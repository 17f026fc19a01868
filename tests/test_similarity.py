"""Similarity-search operators: the persisted LSH index ≡ the DuckDB
``ann_lsh_topk`` oracle at its geometry; tune step writes a usable method;
lineage metrics recorded."""

import os

import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.operators.similarity import (
    AnnIndexReader,
    build_ann_index,
    cosine_topk,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def _qvec(spark):
    row = _emb(spark).filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture(scope="module")
def ann8(spark, tmp_path_factory):
    """The oracle's geometry: 8 planes, seed 42, over the sf0.001 vectors."""
    out = str(tmp_path_factory.mktemp("ann8") / "ann")
    build_ann_index(_emb(spark), out, n_planes=8, seed=42)
    return out


def test_persisted_ann_equals_inmem(spark, ann8):
    """The persisted index's Hamming-1 probe of vector 0 returns exactly the
    rows of the DuckDB oracle that re-buckets the corpus in SQL."""
    import duckdb

    import __spark_entry__ as entrymod

    q = _qvec(spark)
    a = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, ann8).topk(q, k=10).collect()]
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{os.path.join(SF, 'embeddings.parquet')}')")
    b = [(int(v), float(c)) for v, c in con.sql(entrymod._ann_lsh_sql()).fetchall()]
    assert a == b and len(a) > 0


def test_ann_recall_vs_brute(spark, ann8):
    emb = _emb(spark)
    q = _qvec(spark)
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in AnnIndexReader(spark, ann8).topk(q, k=10).collect()}
    # vec 0 itself must always be found (it is its own bucket's best match)
    assert 0 in approx
    assert len(exact & approx) >= 3  # deterministic for seed=42


def test_lineage_metrics(spark, small_dir, tmp_path):
    from abstracts_search_spark.plans.build import build_index

    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64, skip_merge=True)
    lin = spark.read.parquet(os.path.join(ix, "lineage"))
    rows = {r["src_part"]: r for r in lin.collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert r["n_docs"] > 0 and r["n_turns"] > 0
        assert r["n_postings"] > 0 and r["n_term_rows"] > 0
        assert r["n_postings"] >= r["n_term_rows"]
        assert r["wall_sec"] > 0 and r["ts"] is not None


def test_tuned_method_used(spark, small_dir, tmp_path):
    import json

    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.plans.tune import tune_index

    ix = str(tmp_path / "ix2")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64)
    params = tune_index(spark, ix, sample_queries=["index merge", "user assistant"])
    assert params["method"] in ("bmw", "taat", "auto")
    reader = IndexReader(spark, ix)
    assert reader.params["method"] == params["method"]
    assert reader.query("index merge", k=5).count() == 5
