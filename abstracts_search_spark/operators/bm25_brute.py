"""Brute-force exact BM25 — the index-free query path (SURVEY.md §7 M1).

Scores every document for a query by scanning the raw corpus
(:func:`bm25_score_scan`); :func:`doc_tokens` is the per-(doc, term) tf
table the driver's tokenize/df/stats queries read. Both tokenize through the
engine's one tokenizer (``TokenizerSpec.batch``, ascii). Pinned
rank-identical, scores within 1e-6, to the numpy oracle
(``oracle_numpy.BM25Oracle``) and, through the driver's queries, to DuckDB.
All arithmetic in float64.

BM25 (k1=1.2, b=0.75, BASELINE.json north_star):
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, q) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

Duplicate query terms count once (distinct-term semantics, documented; the
same rule is applied in the WAND path and all oracles).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import B_BM25, K1
from ..frames import no_rows
from ..functions.tokenize import get_tokenizer


def _pair_runs(doc_idx: np.ndarray, codes: np.ndarray):
    """A (doc, code) stream -> (doc, code, count) per distinct pair, sorted
    by (doc, code): one lexsort + run-length pass. ``codes`` is non-empty."""
    order = np.lexsort((codes, doc_idx))
    d, c = doc_idx[order], codes[order]
    new_pair = np.empty(d.shape[0], dtype=bool)
    new_pair[0] = True
    np.logical_or(np.diff(d) != 0, np.diff(c) != 0, out=new_pair[1:])
    starts = np.flatnonzero(new_pair)
    return d[starts], c[starts], np.diff(np.append(starts, d.shape[0]))


def doc_tokens(
    docs: DataFrame,
    text_col: str = "document",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """docs -> (doc_id, [carry...], doclen, term, tf). ONE Arrow pass.

    ``carry`` columns (e.g. src_part) are functionally dependent on doc_id and
    ride through unchanged.

    Tokenize AND per-(doc, term) tf run inside a single mapInPandas stage
    (the tokenizer's batch pass, then a lexsort + run-length over the
    (doc, term) stream). tf groups are doc-local, so the plan has ZERO
    shuffles; docs with no tokens emit no rows (explode semantics).
    """
    spec = get_tokenizer("ascii")
    out_schema = ", ".join(
        [f"doc_id {docs.schema[id_col].dataType.simpleString()}"]
        + [f"{name} {docs.schema[name].dataType.simpleString()}" for name in carry]
        + ["doclen int", "term string", "tf long"]
    )
    carry_cols = list(carry)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, codes, terms = spec.batch(pdf[text_col])
            if not codes.shape[0]:
                continue
            doc_idx = np.repeat(np.arange(lens.shape[0]), lens)
            pd_doc, pd_code, tfs = _pair_runs(doc_idx, codes)
            out = {"doc_id": pdf[id_col].to_numpy()[pd_doc]}
            for name in carry_cols:
                out[name] = pdf[name].to_numpy()[pd_doc]
            out["doclen"] = lens[pd_doc].astype(np.int32)
            out["term"] = terms[pd_code]
            out["tf"] = tfs
            yield pd.DataFrame(out)

    return docs.select(id_col, *carry, text_col).mapInPandas(run, schema=out_schema)


def bm25_score_scan(
    docs: DataFrame,
    query_text: str,
    k1: float = K1,
    b: float = B_BM25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Brute BM25 over raw documents in TWO corpus scans, zero shuffles
    (optimization r6, guide §1.2 "the distributed algorithm") ->
    (doc_id, score) for every matching doc.

    Pass 1 computes (n_docs, Σdoclen, df per query term) as per-batch
    partials collected driver-side (a few rows); pass 2 scores each doc
    locally against the now-constant idf/avgdl. Both passes run the
    tokenizer's batch pass and keep only the query terms' occurrences;
    a doc's contributions are summed in sorted-term order (deterministic).
    """
    spec = get_tokenizer("ascii")
    terms = sorted(set(spec.tokens(query_text)))
    if not terms:
        return no_rows(docs, "doc_id long, score double")
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    term_index = pd.Index(terms)

    def term_hits(texts: pd.Series):
        """-> (lens, doc, term, tf): each text's token count, and one entry
        per (text, query term) pair that occurs, ``term`` indexing
        ``terms``; sorted by (doc, term)."""
        lens, codes, vocab = spec.batch(texts)
        qcodes = term_index.get_indexer(vocab)[codes]
        hit = qcodes >= 0
        if not hit.any():
            none = np.empty(0, dtype=np.int64)
            return lens, none, none, none
        doc_idx = np.repeat(np.arange(lens.shape[0]), lens)
        return (lens, *_pair_runs(doc_idx[hit], qcodes[hit]))

    def stats_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_docs = 0
        sum_dl = 0
        dfs = np.zeros(len(terms), dtype=np.int64)
        for pdf in batches:
            lens, _, term, _ = term_hits(pdf["_text"])
            n_docs += int(np.count_nonzero(lens))
            sum_dl += int(lens.sum())
            dfs += np.bincount(term, minlength=len(terms))
        if n_docs:
            yield pd.DataFrame(
                {"n_docs": [n_docs], "sum_dl": [sum_dl], "dfs": [dfs.tolist()]}
            )

    parts = src.select("_text").mapInPandas(
        stats_pass, schema="n_docs long, sum_dl long, dfs array<long>"
    ).collect()
    if not parts:
        return no_rows(docs, "doc_id long, score double")
    n_docs = sum(int(r["n_docs"]) for r in parts)
    avgdl = sum(int(r["sum_dl"]) for r in parts) / n_docs
    dfs = [sum(int(r["dfs"][i]) for r in parts) for i in range(len(terms))]
    if not any(dfs):
        return no_rows(docs, "doc_id long, score double")
    idfs = np.array([math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)) for df in dfs])

    def score_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, doc, term, tf = term_hits(pdf["_text"])
            if not doc.shape[0]:
                continue
            norm = k1 * (1.0 - b + b * lens[doc] / avgdl)
            contrib = idfs[term] * tf * (k1 + 1.0) / (tf + norm)
            hit_docs, slot = np.unique(doc, return_inverse=True)
            scores = np.zeros(hit_docs.shape[0])
            for j in range(len(terms)):  # sorted-term order: deterministic sums
                sel = term == j
                scores[slot[sel]] += contrib[sel]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy()[hit_docs], "score": scores}
            )

    return src.mapInPandas(score_pass, schema="doc_id long, score double")
