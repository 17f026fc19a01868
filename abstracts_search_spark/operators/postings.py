"""Posting-list encode + merge — the index centerpiece (SURVEY.md A5/A6).

Mirrors the reference's two-stage shape: per-source-partition incremental
builds that accumulate into a store (/root/reference/Makefile:57-66), then a
global fill producing on-disk inverted lists (Makefile:24-25). Here:

- **pack_doc_tokens** — tokenize + per-doc tf + ``term_id`` hash + bucket in
  one Arrow pass, one packed row per (doc, bucket).
- **build_segments_packed** — the one encoder: grouped by (bucket, shard),
  one encoded posting row per term. Every text write (batch build, stream
  epoch, documents index) encodes its rows ONCE with it and stores them as
  one postings generation ``gen=G``. ``bucket = term_id % B`` drives
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


_EMPTY_COLS = (
    "term_id df first_doc last_doc doc_bin tf_bin dl_bin block_last block_max_tf "
    "block_min_dl doc_offs tf_offs dl_offs n_blocks pos_bin pos_offs"
).split()


def _encode_sorted(codes, uniques, docs, tfs, dls, head: dict, pos=None) -> pd.DataFrame:
    """codes/docs/tfs/dls sorted by (code, doc) -> one encoded row per code.
    All lists of a group are encoded in ONE vectorized codec pass
    (codecs/multilist.py) — per-list Python work is just byte slicing.
    ``pos``: flat within-doc positions aligned with the sorted entry order
    (entry i owns tfs[i] contiguous ascending values)."""
    from ..codecs.multilist import encode_posting_lists

    if len(codes) == 0:
        out = pd.DataFrame({c: [] for c in _EMPTY_COLS})
    else:
        bounds = np.concatenate([[0], np.flatnonzero(np.diff(codes)) + 1, [len(codes)]])
        enc = encode_posting_lists(docs, tfs, dls, bounds, positions=pos)
        out = pd.DataFrame({"term_id": uniques[codes[bounds[:-1]]], **enc})
    for k, v in head.items():
        out[k] = v
    return out


def _gather_positions(pos_flat, tf_arr, order) -> np.ndarray:
    """Reorder a flat occurrence-level positions array to follow a PAIR-level
    permutation: entry i's tf_arr[i] positions are contiguous; after sorting
    entries by ``order``, gather each entry's segment in the new order."""
    from ..codecs.multilist import concat_aranges

    tf_arr = np.asarray(tf_arr, dtype=np.int64)
    starts = np.zeros(tf_arr.shape[0] + 1, dtype=np.int64)
    np.cumsum(tf_arr, out=starts[1:])
    idx = np.repeat(starts[:-1][order], tf_arr[order]) + concat_aranges(tf_arr[order])
    return np.asarray(pos_flat, dtype=np.int64)[idx]


def _emit_rows(term_arr, doc_arr, tf_arr, dl_arr, head: dict, pos_flat=None) -> pd.DataFrame:
    """Encode one posting row per term; tf pre-aggregated per (term, doc)."""
    codes, uniques = pd.factorize(term_arr, sort=False)
    order = np.lexsort((doc_arr, codes))
    pos = _gather_positions(pos_flat, tf_arr, order) if pos_flat is not None else None
    return _encode_sorted(
        codes[order], uniques, doc_arr[order], tf_arr[order], dl_arr[order], head, pos=pos
    )


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
    from typing import Iterator

    from ..codecs.multilist import concat_aranges
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

    groupBy(bucket, shard) over packed rows; inside the UDF the arrays are
    flattened with numpy (concatenate/repeat — no per-token Python) and
    encoded per term_id. When the packed rows carry a ``positions`` column
    (pack_doc_tokens ``with_positions``), the posting rows gain the
    pos_bin/pos_offs stream. ``counts`` (an accumulator of
    :class:`PartCounts`) collects each source partition's lineage numbers
    while the rows are encoded — its (term, doc) entries and its
    (term, shard) lists — so nothing is read back after the write.
    """
    with_positions = "positions" in packed.columns

    def build_group(key, pdf):
        bucket, shard = int(key[0]), int(key[1])
        lens = pdf["term_ids"].map(len).to_numpy(np.int64)
        tids = np.concatenate([np.asarray(t, dtype=np.int64) for t in pdf["term_ids"]])
        tfs = np.concatenate([np.asarray(t, dtype=np.int64) for t in pdf["tfs"]])
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
        dls = np.repeat(pdf["doclen"].to_numpy(np.int64), lens)
        parts = np.repeat(pdf["src_part"].to_numpy(np.int64), lens)
        lists = np.unique(np.stack([parts, tids]), axis=1)[0]
        counts.add({
            int(p): (int(n), int((lists == p).sum()))
            for p, n in zip(*np.unique(parts, return_counts=True))
        })
        pos_flat = None
        if with_positions:
            pos_flat = np.concatenate(
                [np.asarray(p, dtype=np.int64) for row in pdf["positions"] for p in row]
                or [np.empty(0, dtype=np.int64)]
            )
        return _emit_rows(
            tids, doc_ids, tfs, dls, {"bucket": bucket, "shard": shard}, pos_flat=pos_flat
        )

    return packed.groupBy("bucket", "shard").applyInPandas(build_group, schema=POSTINGS_SCHEMA)


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
    exactly once), so the merge is concat + argsort + re-encode per term —
    the per-term analog of FAISS fill appending rowids to each centroid's
    list (the reference's Makefile:24-25).
    """

    def merge_group(key, pdf):
        from ..codecs.multilist import decode_posting_lists

        bucket, shard = int(key[0]), int(key[1])
        dfs = pdf["df"].to_numpy(np.int64)
        with_pos = bool(pdf["pos_bin"].notna().any())
        decoded = decode_posting_lists(
            [bytes(b) for b in pdf["doc_bin"]],
            [bytes(b) for b in pdf["tf_bin"]],
            [bytes(b) for b in pdf["dl_bin"]],
            dfs,
            pos_bins=[bytes(b) for b in pdf["pos_bin"]] if with_pos else None,
        )
        docs, tfs, dls = decoded[:3]
        row_codes, uniques = pd.factorize(pdf["term_id"].to_numpy(np.int64), sort=False)
        codes = np.repeat(row_codes, dfs)
        order = np.lexsort((docs, codes))
        pos = _gather_positions(decoded[4], tfs, order) if with_pos else None
        return _encode_sorted(
            codes[order], uniques, docs[order], tfs[order], dls[order],
            {"bucket": bucket, "shard": shard},
            pos=pos,
        )

    return postings.groupBy("bucket", "shard").applyInPandas(merge_group, schema=POSTINGS_SCHEMA)
