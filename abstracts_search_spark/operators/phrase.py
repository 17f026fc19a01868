"""Exact phrase matching over the normalized token stream.

The reference is an embedding engine with no phrase capability; a fulltext
engine (this repo's tier) needs one. Two paths, identical results (tested):

- **brute** (`phrase_matches`) — a vectorized pandas UDF over the raw text:
  each doc's token stream (the engine's one tokenizer,
  ``TokenizerSpec.tokens``) is joined into a boundary-padded string and the
  padded phrase is counted with ``str.count``. A full corpus scan per query:
  the correctness oracle. The DuckDB oracle runs the same count as literal
  ``replace`` arithmetic over the same padded stream.
- **indexed** (`make_phrase_matcher_multi`, driven by
  ``IndexReader.phrase_query`` and ``phrase_query_many``) — the scale path:
  dictionary lookup → bucket-pruned, term-pushed postings scan → per-shard
  POSITION intersection over the positional varint stream
  (codecs/postings.py pos_bin). Only the phrase terms' posting lists are ever
  read; the corpus is never scanned.

Semantics (both paths): tokens are the engine's one tokenizer ([A-Za-z0-9]+,
ascii-lower); a match is the phrase's tokens CONSECUTIVE in the stream.
Occurrences are counted NON-OVERLAPPING left-to-right (a self-overlapping
phrase like 'a a' in 'a a a' counts once — the standard rule; immediately
adjacent repeats DO count separately: 'new york new york' contains
'new york' twice). The brute stream is padded with TWO spaces between tokens
(`' ' || join(tokens, '  ') || ' '`) so adjacent occurrences never share a
delimiter — ``str.count`` (and the oracle's replace arithmetic) then
implements exactly the greedy non-overlapping counter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import no_rows
from ..functions.tokenize import get_tokenizer


def phrase_matches(
    docs: DataFrame,
    phrase: str,
    top: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search -> (doc_id, n_hits) ranked (n_hits DESC, doc ASC).

    The phrase is normalized with the engine tokenizer before matching, so
    'Merge... SPARK!' and 'merge spark' are the same query.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    tokens = get_tokenizer("ascii").tokens
    toks = tokens(phrase)
    if not toks:
        return no_rows(docs, "doc_id long, n_hits int")
    # str.count over the padded stream IS the greedy non-overlapping counter
    # (double-space padding: adjacent occurrences share no delimiter)
    pat = " " + "  ".join(toks) + " "

    def _count(texts):
        return texts.map(
            lambda t: (" " + "  ".join(tokens(t)) + " ").count(pat)
        ).astype("int32")

    count_udf = pandas_udf(_count, T.IntegerType())
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        count_udf(F.col(text_col)).alias("n_hits"),
    ).filter(F.col("n_hits") > 0)
    return out.orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(top)


def count_nonoverlapping(starts: np.ndarray, length: int) -> int:
    """Greedy left-to-right non-overlapping count over sorted match starts
    (token positions); a match at p occupies tokens [p, p+length)."""
    n = 0
    nxt = -1
    for s in starts:
        if s >= nxt:
            n += 1
            nxt = int(s) + length
    return n


def make_phrase_matcher_multi(term_seqs: dict[int, list[int]]):
    """Per-shard matcher for a BATCH of phrases over positional posting rows.

    ``term_seqs``: {query_id: phrase tokens' term_ids IN ORDER (duplicates
    allowed)}. Returns an applyInPandas fn: one shard's posting rows (already
    filtered to the union of all phrases' term_ids) ->
    (query_id, doc_id, n_hits). Every posting row is decoded ONCE per shard
    and shared across phrases (the same decode-hoisting as the batched BM25
    scorer). Shards tile the docID space disjointly, so per-shard results
    union cleanly into a global rank.

    Per phrase: candidate docs = intersection over its DISTINCT terms; per
    candidate doc, start positions = positions(t_0) ∩ (positions(t_1) − 1)
    ∩ … ∩ (positions(t_{L−1}) − (L−1)), then the greedy non-overlapping
    count — identical to the brute ``str.count`` counter (tested).
    """
    all_terms = sorted({t for seq in term_seqs.values() for t in seq})

    def match_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..codecs.multilist import decode_posting_lists

        dfs = pdf["df"].to_numpy(np.int64)
        docs, tfs, _, _, pos = decode_posting_lists(
            [bytes(b) for b in pdf["doc_bin"]],
            [bytes(b) for b in pdf["tf_bin"]],
            [bytes(b) for b in pdf["dl_bin"]],
            dfs,
            pos_bins=[bytes(b) for b in pdf["pos_bin"]],
        )
        entry_tid = np.repeat(pdf["term_id"].to_numpy(np.int64), dfs)
        occ_bounds = np.zeros(tfs.shape[0] + 1, dtype=np.int64)
        np.cumsum(tfs, out=occ_bounds[1:])

        # decoded ONCE: per term, entry indices sorted by doc (gens are
        # disjoint doc ranges but may arrive unordered across rows)
        per_term: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for t in all_terms:
            idx = np.flatnonzero(entry_tid == t)
            if idx.shape[0]:
                o = np.argsort(docs[idx], kind="stable")
                per_term[t] = (docs[idx][o], idx[o])

        from ..codecs.multilist import concat_aranges

        # ONE flat vectorized pass per phrase TERM over the shard's candidate
        # docs (r4-verdict item 2): positions for all candidates are gathered
        # with a single fancy-index, and phrase starts are the running
        # intersection of (doc_rank, pos − i) composite keys — no per-doc
        # Python loop. Keys use doc RANK (index into the sorted candidate
        # set), not the raw doc id, so rank·SHIFT never overflows int64 at
        # any doc-id scale.
        out_q, out_d, out_n = [], [], []
        for qid, term_seq in term_seqs.items():
            L = len(term_seq)
            distinct = sorted(set(term_seq))
            if any(t not in per_term for t in distinct):
                continue  # a term absent from this shard -> no doc matches here
            cand = per_term[distinct[0]][0]
            for t in distinct[1:]:
                cand = np.intersect1d(cand, per_term[t][0], assume_unique=True)
                if cand.shape[0] == 0:
                    break
            if cand.shape[0] == 0:
                continue
            if L == 1:
                # single-token phrase: the greedy non-overlapping count of one
                # token is exactly its tf
                tdocs, tidx = per_term[term_seq[0]]
                e = tidx[np.searchsorted(tdocs, cand)]
                out_q.extend([qid] * cand.shape[0])
                out_d.extend(int(d) for d in cand)
                out_n.extend(int(x) for x in tfs[e])
                continue
            shift = np.int64(int(pos.max()) + 2) if pos.shape[0] else np.int64(2)
            starts_keys = None
            for i, t in enumerate(term_seq):
                tdocs, tidx = per_term[t]
                e = tidx[np.searchsorted(tdocs, cand)]  # cand ⊆ tdocs (exact hits)
                p_start, p_len = occ_bounds[e], occ_bounds[e + 1] - occ_bounds[e]
                flat_idx = concat_aranges(p_len) + np.repeat(p_start, p_len)
                flat_pos = pos[flat_idx]
                ranks = np.repeat(np.arange(cand.shape[0], dtype=np.int64), p_len)
                if i:
                    keep = flat_pos >= i  # a start before token i is impossible
                    flat_pos, ranks = flat_pos[keep], ranks[keep]
                # ascending (ranks asc, positions asc within a doc) and unique
                keys = ranks * shift + (flat_pos - i)
                starts_keys = keys if i == 0 else np.intersect1d(
                    starts_keys, keys, assume_unique=True
                )
                if starts_keys.shape[0] == 0:
                    break
            if starts_keys is None or starts_keys.shape[0] == 0:
                continue
            ranks = starts_keys // shift
            positions = starts_keys % shift
            # intersect1d output is sorted → ranks grouped, positions ascending
            bnd = np.concatenate(
                [[0], np.flatnonzero(np.diff(ranks)) + 1, [ranks.shape[0]]]
            )
            for a, b in zip(bnd[:-1], bnd[1:]):
                n = count_nonoverlapping(positions[a:b], L)
                if n > 0:
                    out_q.append(qid)
                    out_d.append(int(cand[ranks[a]]))
                    out_n.append(n)
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "n_hits": out_n})

    return match_shard
