"""Brute-force exact BM25 — the index-free query path (SURVEY.md §7 M1).

Scores every document for a query with pure DataFrame ops: tokenize →
posexplode → tf → join df/N/avgdl → BM25 expression → TakeOrderedAndProject.
This IS the oracle the indexed path (postings + WAND) must match
rank-identically (north_rule). All arithmetic in float64.

BM25 (k1=1.2, b=0.75, BASELINE.json north_star):
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, q) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

Duplicate query terms count once (distinct-term semantics, documented; the
same rule is applied in the WAND path and all oracles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B_BM25, K1
from ..functions.tokenize import tokenize_pd, tokens_expr


def doc_tokens(
    docs: DataFrame,
    text_col: str = "document",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """docs -> (doc_id, [carry...], doclen, term, tf). ONE Arrow pass.

    ``carry`` columns (e.g. src_part) are functionally dependent on doc_id and
    ride through unchanged.

    Optimization r6 (guide §2.4/§4.2): tokenize AND per-(doc, term) tf are
    computed inside a single mapInPandas stage (batch-wide factorize +
    lexsort + run-length — the pack_doc_tokens technique), replacing the old
    tokenize-UDF → explode → groupBy plan. tf groups are doc-local, so the
    groupBy's exchange of the exploded token stream (one row per occurrence)
    was pure overhead — the new plan has ZERO shuffles. Tokenization is the
    same Python regex as tokenize_udf (≡ Catalyst tokens_expr, tested);
    docs with no tokens emit no rows (explode semantics preserved).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ..functions.tokenize import _TOKEN_RE

    findall = _TOKEN_RE.findall
    out_schema = ", ".join(
        [f"doc_id {docs.schema[id_col].dataType.simpleString()}"]
        + [f"{name} {docs.schema[name].dataType.simpleString()}" for name in carry]
        + ["doclen int", "term string", "tf long"]
    )
    carry_cols = list(carry)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks_per_doc = [
                [m.lower() for m in findall(t)] if t else [] for t in pdf[text_col]
            ]
            lens = np.fromiter(
                (len(t) for t in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
            )
            flat = np.asarray(
                [tok for toks in toks_per_doc for tok in toks], dtype=object
            )
            if not flat.shape[0]:
                continue
            codes, uniques = pd.factorize(flat, sort=False)
            doc_idx = np.repeat(np.arange(lens.shape[0]), lens)
            order = np.lexsort((codes, doc_idx))
            d, c = doc_idx[order], codes[order]
            new_pair = np.empty(d.shape[0], dtype=bool)
            new_pair[0] = True
            np.logical_or(np.diff(d) != 0, np.diff(c) != 0, out=new_pair[1:])
            starts = np.flatnonzero(new_pair)
            tfs = np.diff(np.concatenate([starts, [d.shape[0]]]))
            pd_doc, pd_code = d[starts], c[starts]
            out = {"doc_id": pdf[id_col].to_numpy()[pd_doc]}
            for name in carry_cols:
                out[name] = pdf[name].to_numpy()[pd_doc]
            out["doclen"] = lens[pd_doc].astype(np.int32)
            out["term"] = uniques[pd_code]
            out["tf"] = tfs
            yield pd.DataFrame(out)

    return docs.select(id_col, *carry, text_col).mapInPandas(run, schema=out_schema)


def bm25_score_all(
    tokens: DataFrame,
    query_terms: list[str],
    k1: float = K1,
    b: float = B_BM25,
) -> DataFrame:
    """tokens(doc_id, doclen, term, tf) -> (doc_id, score) for every matching doc.

    The query-term list is tiny → broadcast join against the tf table; stats
    and df are computed on the fly (the indexed path reads them from the
    `stats`/`dictionary` tables instead).
    """
    spark = tokens.sparkSession
    terms = sorted(set(query_terms))
    stats = tokens.select("doc_id", "doclen").distinct().agg(
        F.count("*").alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    dfs = term_df_for(tokens, terms)
    qt = spark.createDataFrame([(t,) for t in terms], "term string")
    matched = tokens.join(F.broadcast(qt), "term")
    scored = (
        matched.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf").cast("double")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf").cast("double")
                + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def term_df_for(tokens: DataFrame, terms: list[str]) -> DataFrame:
    return (
        tokens.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


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

    The old plan (doc_tokens → 3 consumers) tokenized the corpus THREE
    times: once for corpus stats, once for query-term df, once for the
    scored join. Here pass 1 computes (n_docs, Σdoclen, df per query term)
    as per-batch partials collected driver-side (a few rows), and pass 2
    scores each doc locally against the now-constant idf/avgdl — the same
    float64 formula, same distinct-query-term semantics, term
    contributions summed in sorted-term order (deterministic; the old
    groupBy sum added them in shuffle-arrival order).
    """
    import math
    from typing import Iterator

    from ..functions.tokenize import _TOKEN_RE, tokenize_pd

    spark = docs.sparkSession
    terms = sorted(set(tokenize_pd(pd.Series([query_text]))[0]))
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    findall = _TOKEN_RE.findall
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))

    def stats_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_docs = 0
        sum_dl = 0
        dfs = [0] * len(terms)
        for pdf in batches:
            for t in pdf["_text"]:
                toks = [m.lower() for m in findall(t)] if t else []
                if not toks:
                    continue
                n_docs += 1
                sum_dl += len(toks)
                present = set(toks)
                for i, term in enumerate(terms):
                    if term in present:
                        dfs[i] += 1
        if n_docs:
            yield pd.DataFrame(
                {"n_docs": [n_docs], "sum_dl": [sum_dl], "dfs": [dfs]}
            )

    parts = src.select("_text").mapInPandas(
        stats_pass, schema="n_docs long, sum_dl long, dfs array<long>"
    ).collect()
    if not parts:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs = sum(int(r["n_docs"]) for r in parts)
    avgdl = sum(int(r["sum_dl"]) for r in parts) / n_docs
    dfs = [sum(int(r["dfs"][i]) for r in parts) for i in range(len(terms))]
    idfs = [
        (t, math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
        for t, df in zip(terms, dfs)
        if df > 0
    ]
    if not idfs:
        return spark.createDataFrame([], "doc_id long, score double")

    def score_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, scores = [], []
            id_arr = pdf["doc_id"].to_numpy()
            for j, t in enumerate(pdf["_text"]):
                toks = [m.lower() for m in findall(t)] if t else []
                if not toks:
                    continue
                dl = len(toks)
                norm = k1 * (1.0 - b + b * dl / avgdl)
                s = 0.0
                hit = False
                for term, idf in idfs:
                    tf = toks.count(term)
                    if tf:
                        hit = True
                        s += idf * tf * (k1 + 1.0) / (tf + norm)
                if hit:
                    ids.append(id_arr[j])
                    scores.append(s)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "score": scores})

    return src.mapInPandas(score_pass, schema="doc_id long, score double")


def bm25_topk_brute(
    tokens: DataFrame,
    query_text: str,
    k: int = 10,
    k1: float = K1,
    b: float = B_BM25,
) -> DataFrame:
    """Top-k (doc_id, score), tie-break (score DESC, doc_id ASC) — exact.

    `orderBy(...).limit(k)` plans as TakeOrderedAndProject: per-partition
    heaps + driver merge of k·P rows, never a global sort (SURVEY.md §2.6 T2).
    """
    import pandas as pd

    terms = list(tokenize_pd(pd.Series([query_text]))[0])
    if not terms:
        spark = tokens.sparkSession
        return spark.createDataFrame([], "doc_id long, score double")
    scores = bm25_score_all(tokens, terms, k1=k1, b=b)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
