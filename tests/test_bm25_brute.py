"""M1: brute-force BM25 (bm25_score_scan) vs the pure-numpy oracle — rank
identical, scores within 1e-6."""

import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.operators.assemble import assemble_documents
from abstracts_search_spark.operators.bm25_brute import bm25_score_scan
from abstracts_search_spark.operators.docids import assign_doc_ids
from abstracts_search_spark.operators.oracle_numpy import BM25Oracle
from abstracts_search_spark.sources.transcripts import gen_queries


@pytest.fixture(scope="module")
def corpus(spark, tiny_df):
    docs = assign_doc_ids(assemble_documents(tiny_df), num_partitions=2)[0].cache()
    oracle = BM25Oracle({r["doc_id"]: r["document"] for r in docs.collect()})
    return docs, oracle


def _topk(docs, query, k=10):
    scores = bm25_score_scan(docs, query, text_col="document")
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


@pytest.mark.parametrize("qid,query", gen_queries(n=15))
def test_topk_matches_oracle(corpus, qid, query):
    docs, oracle = corpus
    got = [(r["doc_id"], r["score"]) for r in _topk(docs, query).collect()]
    want = oracle.topk(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], f"docIDs differ for {query!r}"
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6 * max(1.0, abs(ws))


def test_empty_query(corpus):
    docs, _ = corpus
    assert _topk(docs, "—— ☃ !!!").count() == 0


def test_absent_term_query(corpus):
    docs, _ = corpus
    assert _topk(docs, "zzzneverappears").count() == 0
