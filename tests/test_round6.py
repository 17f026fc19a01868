"""Round-6 optimization equivalence tests.

Every optimization this round restructures an operator's PLAN while keeping
its results identical; these tests pin each rewrite against the original
shape (or a literal re-derivation of the contract), so a future edit cannot
silently change semantics while chasing speed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.operators.bm25_brute import bm25_score_scan, doc_tokens


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_doc_tokens_equals_explode_groupby(spark, docs):
    """The one-pass mapInPandas doc_tokens must equal a Catalyst
    tokenize -> explode -> groupBy(tf) plan row-for-row."""
    from abstracts_search_spark.functions.tokenize import tokens_expr

    got = {
        (r["doc_id"], r["term"]): (r["doclen"], r["tf"])
        for r in doc_tokens(docs, text_col="text", id_col="doc_id").collect()
    }
    toks = docs.select(
        F.col("doc_id"), tokens_expr("text").alias("tokens")
    ).withColumn("doclen", F.size("tokens"))
    want = {
        (r["doc_id"], r["term"]): (r["doclen"], r["tf"])
        for r in toks.select("doc_id", "doclen", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "doclen", "term")
        .agg(F.count("*").alias("tf"))
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("q", ["spark query join table", "Spark SPARK the data", "zzznope"])
def test_bm25_scan_equals_numpy_oracle(spark, docs, q):
    """Two-scan brute BM25 == the numpy oracle over every matching doc:
    same doc set, rank-identical, scores within 1e-6 (case variants and
    duplicated terms in the query; an absent term matches nothing)."""
    from abstracts_search_spark.operators.oracle_numpy import BM25Oracle

    oracle = BM25Oracle({r["doc_id"]: r["text"] for r in docs.collect()})
    want = oracle.topk(q, k=len(oracle.tf))
    got = sorted(
        ((r["doc_id"], r["score"]) for r in bm25_score_scan(docs, q).collect()),
        key=lambda x: (-x[1], x[0]),
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6 * max(1.0, abs(ws))
    assert bool(got) == (q != "zzznope")


def test_jaccard_blocked_equals_join_plan(spark, docs):
    from abstracts_search_spark.operators.dedup import (
        _jaccard_pairs_join,
        jaccard_pairs,
    )

    got = jaccard_pairs(docs, top=30).collect()
    want = _jaccard_pairs_join(docs, "doc_id", "text", 3, 30).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in want
    ]


def test_jaccard_blocked_dict_overflow_falls_back(spark, docs):
    from abstracts_search_spark.operators.dedup import jaccard_pairs

    got = jaccard_pairs(docs, top=10, max_dict_shingles=5).collect()
    want = jaccard_pairs(docs, top=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_minhash_sigs_one_matches_literal_formula():
    from abstracts_search_spark.operators.dedup import _minhash_sigs_one

    toks = "the quick brown fox jumps over the lazy dog".split()
    n, num_perm = 3, 12
    shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    want = [
        min(hashlib.md5(f"{s}#{p}".encode()).hexdigest() for s in shingles)
        for p in range(num_perm)
    ]
    assert _minhash_sigs_one(toks, n, num_perm) == want
    assert _minhash_sigs_one(["a", "b"], 3, 4) is None  # no shingles


def test_assign_ids_tiled_equals_untiled_and_ties():
    from abstracts_search_spark.operators import ivf

    rng = np.random.default_rng(0)
    m = rng.standard_normal((700, 8))
    cents = np.round(rng.standard_normal((900, 8)), 6)
    vv = (m * m).sum(axis=1)
    d2 = np.round((vv[:, None] - 2.0 * (m @ cents.T)) + (cents * cents).sum(axis=1)[None, :], 6)
    want = d2.argmin(axis=1).astype(np.int32)
    # force multi-tile execution on this small input
    old_rc, old_cb = ivf.ASSIGN_ROW_CHUNK, ivf.ASSIGN_CENT_BLOCK
    ivf.ASSIGN_ROW_CHUNK, ivf.ASSIGN_CENT_BLOCK = 128, 100
    try:
        got = ivf.assign_ids(m, cents)
        # duplicated centroids: ties must resolve to the LOWEST list id
        # even when the duplicate lives in a later centroid block
        dup = ivf.assign_ids(m, np.concatenate([cents, cents]))
    finally:
        ivf.ASSIGN_ROW_CHUNK, ivf.ASSIGN_CENT_BLOCK = old_rc, old_cb
    assert (got == want).all()
    assert (dup < 900).all()
    assert (dup == want).all()


def test_phrase_matches_equals_greedy_count(spark, docs, greedy_count):
    """The vectorized phrase counter == a plain greedy count over the
    tokenizer's stream for hot, rare and absent phrases."""
    from abstracts_search_spark.functions.tokenize import get_tokenizer
    from abstracts_search_spark.operators.phrase import phrase_matches

    tokens = get_tokenizer("ascii").tokens
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for phrase in ("the data", "customer join small", "quantum flux absent"):
        got = {
            (r["doc_id"], r["n_hits"])
            for r in phrase_matches(docs, phrase, top=1000).collect()
        }
        want = {
            (d, n)
            for d, t in texts.items()
            if (n := greedy_count(tokens(t), tokens(phrase))) > 0
        }
        assert got == want, phrase
        assert len(want) < 1000  # the top cut dropped nothing


def test_cosine_pairs_blocked_topk_cut_exact(spark, emb):
    """Per-group top-k emission + auto block sizing still returns the exact
    global top pairs (checked against a full numpy all-pairs computation)."""
    from abstracts_search_spark.operators.similarity import cosine_pairs_blocked

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    m = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cos = (m @ m.T) / np.outer(np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1))
    iu = np.triu_indices(len(ids), k=1)
    flat = sorted(
        zip(np.round(cos[iu], 6), ids[iu[0]], ids[iu[1]]),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:25]
    want = [(a, b, c) for c, a, b in flat]
    got = [
        (r["vec_a"], r["vec_b"], r["cos"])
        for r in cosine_pairs_blocked(emb, top=25).collect()
    ]
    assert got == want
    # an explicit block count exercises many groups + the per-group cut
    got_small = [
        (r["vec_a"], r["vec_b"], r["cos"])
        for r in cosine_pairs_blocked(emb, top=25, n_blocks=16).collect()
    ]
    assert got_small == want


def test_ann_topk_many_full_radius_equals_brute(spark, emb, tmp_path):
    """The exhaustive-radius shortcut (no In-filter) must still rank
    exactly like the brute cosine scan."""
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        cosine_topk,
    )

    d = str(tmp_path / "ann")
    build_ann_index(emb, d, n_planes=5)
    r = AnnIndexReader(spark, d)
    qv = [float(x) for x in emb.filter("vec_id = 7").collect()[0]["embedding"]]
    got = [
        (row["vec_id"], row["cos"])
        for row in r.topk_many({0: qv}, k=8, probe_hamming=5).collect()
    ]
    want = [
        (row["vec_id"], row["cos"])
        for row in cosine_topk(emb, qv, k=8).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=2e-6)


def test_empty_answers_run_no_job(spark, docs, job_count):
    """Every answer the driver already knows is empty (no query term, no
    document to score, no document holding a term, an empty phrase, no
    repeated shingle) is an empty local relation: collecting it runs no
    Spark job."""
    from abstracts_search_spark.operators.dedup import jaccard_pairs
    from abstracts_search_spark.operators.phrase import phrase_matches

    no_tokens = docs.select("doc_id", F.lit("—— ☃ !!!").alias("text"))
    distinct = spark.createDataFrame(
        [(d, " ".join(f"w{d}x{j}" for j in range(6))) for d in range(4)],
        "doc_id long, text string",
    )
    answers = {
        "bm25, empty query": bm25_score_scan(docs, "—— ☃ !!!"),
        "bm25, no tokens in the corpus": bm25_score_scan(no_tokens, "spark"),
        "bm25, absent terms": bm25_score_scan(docs, "zzznope qqqmissing"),
        "phrase, empty phrase": phrase_matches(docs, "—— ☃ !!!"),
        "jaccard, no repeated shingle": jaccard_pairs(distinct),
    }
    for name, answer in answers.items():
        rows = []
        assert job_count(lambda: rows.extend(answer.collect())) == 0, name
        assert rows == [], name
