"""Query-time BM25 top-k over merged postings (SURVEY.md §2.6 T2, §3.2).

One scorer, :func:`make_scorer`, runs per (shard) group inside
``applyInPandas`` for every text query: a single query is a batch of one.
Shards tile the docID space disjointly, so per-shard top-k → global top-k is
exact. Per (query, shard) it runs one of two exact methods:

- ``bmw`` — zone-vectorized block-max WAND (:func:`wand_topk`): per-block
  (max_tf, min_dl) upper bounds (computed with LIVE corpus stats) are folded
  into per-ZONE bounds (zones = doc ranges cut at the union of block
  boundaries); zones are scored whole-zone with numpy in descending-bound
  order and the loop stops when the k-th score meets the next bound. Blocks
  that can't beat θ are never DECODED (block-restarted varint streams make
  per-block decode possible). The analog of FAISS-IVF probing only nprobe
  inverted lists (the reference's Makefile:24-25; README.md:16).
- ``taat`` — term-at-a-time vectorized scoring: numpy bincount accumulation
  over the shard's bounded doc range, each list decoded once per shard and
  shared across the batch's queries. No skipping, but zero Python-per-doc
  work; wins when query terms are hot (dense lists).

``auto`` picks between them per (query, shard) with :func:`pick_method`.
Both return identical rankings (tested); tie-break everywhere is
(score DESC, doc_id ASC). All arithmetic float64.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .. import B_BM25, K1
from ..codecs.postings import decode_block, decode_posting_list


def idf_of(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _contrib(idf: float, tfs, dls, k1: float, b: float, avgdl: float):
    tfs = np.asarray(tfs, dtype=np.float64)
    dls = np.asarray(dls, dtype=np.float64)
    return idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def wand_topk(rows: list[dict], idfs: dict[int, float], k: int, k1: float, b: float, avgdl: float):
    """Exact block-max top-k, fully vectorized (zone-at-a-time).

    The docID space is cut into ZONES at the union of every list's block
    boundaries, so each zone is covered by exactly ONE block per list and a
    doc's full score always accumulates inside its one zone. Zones are
    processed in descending upper-bound order (Σ covering blocks' block-max
    UBs); once the running k-th score θ meets the next zone's UB, every
    remaining zone is provably below θ and the loop stops. Surviving zones are
    scored whole-zone with numpy (block decode is cached per list) — Python
    cost is O(zones processed × terms), never O(docs), which is the
    vectorization of classic per-document WAND pivoting.

    Pruning is strict (< θ only), so score ties are always fully evaluated and
    the (score DESC, doc_id ASC) order matches brute force exactly.
    """
    # per-list block metadata: boundaries + live-stats upper bounds
    lists = []
    for r in rows:
        idf = idfs[r["term_id"]]
        bl = np.asarray(r["block_last"], dtype=np.int64)
        max_tf = np.asarray(r["block_max_tf"], dtype=np.float64)
        min_dl = np.asarray(r["block_min_dl"], dtype=np.float64)
        ub = idf * max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))
        lists.append((r, idf, bl, ub))

    ends = np.unique(np.concatenate([bl for _, _, bl, _ in lists]))
    nz = ends.shape[0]
    zone_ub = np.zeros(nz, dtype=np.float64)
    cover = []  # per list: block index covering each zone (== n_blocks → none)
    for _, _, bl, ub in lists:
        idx = np.searchsorted(bl, ends, side="left")
        valid = idx < bl.shape[0]
        zone_ub += np.where(valid, ub[np.minimum(idx, ub.shape[0] - 1)], 0.0)
        cover.append((idx, valid))

    order = np.argsort(-zone_ub, kind="stable")
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -1.0
    cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    for zi in order:
        zub = float(zone_ub[zi])
        if zub <= 0.0 or (top_docs.shape[0] >= k and zub < theta):
            break  # descending UB order → every remaining zone is dead too
        lo = int(ends[zi - 1]) if zi > 0 else -1
        hi = int(ends[zi])
        parts_d, parts_c = [], []
        for li, (idx, valid) in enumerate(cover):
            if not valid[zi]:
                continue
            bi = int(idx[zi])
            got = cache.get((li, bi))
            if got is None:
                row, idf, _, _ = lists[li]
                docs, tfs, dls = decode_block(row, bi)
                got = (docs, _contrib(idf, tfs, dls, k1, b, avgdl))
                cache[(li, bi)] = got
            docs, contribs = got
            a = int(np.searchsorted(docs, lo, side="right"))
            e = int(np.searchsorted(docs, hi, side="right"))
            if a < e:
                parts_d.append(docs[a:e])
                parts_c.append(contribs[a:e])
        if not parts_d:
            continue
        zdocs = np.concatenate(parts_d)
        zcontrib = np.concatenate(parts_c)
        u, inv = np.unique(zdocs, return_inverse=True)
        s = np.bincount(inv, weights=zcontrib)
        cd = np.concatenate([top_docs, u])
        cs = np.concatenate([top_scores, s])
        sel = np.lexsort((cd, -cs))[:k]
        top_docs, top_scores = cd[sel], cs[sel]
        if top_docs.shape[0] >= k:
            theta = float(top_scores[-1])
    return [(int(d), float(s)) for d, s in zip(top_docs, top_scores)]


def pick_method(df_sum: int, width: int) -> str:
    """The ``auto`` choice for one (query, shard): TAAT when the query's
    postings in the shard hold at least one entry per 64 docs of the shard's
    doc range (dense: block skipping cannot prune much and one bincount per
    list wins), block-max WAND otherwise. The ×64 crossover is MEASURED: on
    random posting lists it sits near one posting per ~80 docs of range
    across shard widths 16k→1M (BASELINE.md round 3)."""
    return "taat" if df_sum * 64 >= width else "bmw"


def make_scorer(
    query_idfs: dict[int, dict[int, float]],
    k: int,
    avgdl: float,
    k1: float = K1,
    b: float = B_BM25,
    method: str = "auto",
):
    """The one BM25 shard scorer: ``query_idfs`` is {query_id: {term_id:
    idf}}; a single query is a batch of one. Returns an applyInPandas fn:
    one shard's posting rows (the union of the queries' terms) ->
    (query_id, doc_id, score), top k per query in the shard.

    Per (query, shard) it runs ``method``: "bmw" (zone-vectorized block-max
    WAND over the query's rows), "taat" (one bincount per list), or "auto"
    (:func:`pick_method` on the query's rows). A list TAAT needs is decoded
    once per shard and shared by every query that references it. Both
    methods sum each doc's contributions in row order, so their rankings
    and scores are bit-identical (tested) and the switch never changes a
    result.
    """
    # A term's idf is GLOBAL (df over the whole corpus), so its per-doc BM25
    # contribution is identical for every query referencing it — that is what
    # lets each posting row be decoded AND scored once per shard. The
    # invariant is ASSERTED here (driver-side, at closure creation) instead of
    # silently last-write-wins: a caller passing per-query idfs for the same
    # term would otherwise corrupt every other query's scores.
    term_idf: dict[int, float] = {}
    for qid, idfs in query_idfs.items():
        for t, i in idfs.items():
            prev = term_idf.setdefault(t, i)
            if prev != i:
                raise ValueError(
                    f"make_scorer: term_id {t} has conflicting idf values "
                    f"({prev} vs {i} in query {qid}); idf must be derived from "
                    "the global df for every query"
                )

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        # a term may own SEVERAL rows of one shard (one per index generation,
        # disjoint doc sub-ranges) — they accumulate, never overwrite
        rows_of: dict[int, list[int]] = {}
        for i, r in enumerate(rows):
            rows_of.setdefault(r["term_id"], []).append(i)
        base = int(pdf["first_doc"].min())
        width = int(pdf["last_doc"].max()) - base + 1
        decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        out_q, out_d, out_s = [], [], []
        for qid, idfs in query_idfs.items():
            mine = sorted(i for t in idfs for i in rows_of.get(t, ()))
            if not mine:
                continue
            m = method
            if m == "auto":
                lo = min(int(rows[i]["first_doc"]) for i in mine)
                hi = max(int(rows[i]["last_doc"]) for i in mine)
                m = pick_method(sum(int(rows[i]["df"]) for i in mine), hi - lo + 1)
            if m == "bmw":
                top = wand_topk([rows[i] for i in mine], idfs, k, k1, b, avgdl)
                docs = [d for d, _ in top]
                scores = [s for _, s in top]
            else:
                acc = np.zeros(width, dtype=np.float64)
                touched = np.zeros(width, dtype=bool)
                for i in mine:
                    got = decoded.get(i)
                    if got is None:
                        d, tfs, dls = decode_posting_list(rows[i])
                        idf = term_idf[rows[i]["term_id"]]
                        got = decoded[i] = (d - base, _contrib(idf, tfs, dls, k1, b, avgdl))
                    idx, contrib = got
                    acc += np.bincount(idx, weights=contrib, minlength=width)
                    touched[idx] = True
                cand = np.flatnonzero(touched)
                order = np.lexsort((cand, -acc[cand]))[:k]  # (score DESC, doc ASC)
                docs = (cand[order] + base).tolist()
                scores = acc[cand[order]].tolist()
            out_q.extend([qid] * len(docs))
            out_d.extend(docs)
            out_s.extend(scores)
        return pd.DataFrame({"query_id": out_q, "doc_id": out_d, "score": out_s})

    return score_shard
