"""Batched reads ≡ single reads: query_many ≡ per-query query(), for every
scorer method, and phrase_query_many ≡ per-phrase phrase_query()."""

import pytest

from abstracts_search_spark.plans.build import build_index
from abstracts_search_spark.plans.query import IndexReader
from abstracts_search_spark.sources.transcripts import gen_queries


@pytest.fixture(scope="module")
def reader(spark, small_dir, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index") / "qm")
    build_index(spark, small_dir, index_dir, buckets=8, shard_docs=64)
    return IndexReader(spark, index_dir)


def test_query_many_matches_per_query(reader):
    qset = dict(gen_queries(n=20))
    batched = reader.query_many(qset, k=10).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(batched, key=lambda r: (r["query_id"], r["rank"])):
        by_qid.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    for qid, q in qset.items():
        single = [(r["doc_id"], round(r["score"], 9)) for r in reader.query(q, k=10).collect()]
        assert by_qid.get(qid, []) == single, f"mismatch for query {qid}: {q!r}"


def test_query_many_empty_set(reader):
    assert reader.query_many({0: "—— ☃ !!!", 1: "zzznope"}, k=5).count() == 0


def test_empty_reads_run_no_job(reader, two_gen, job_count):
    """A read with nothing to score answers with an empty relation that runs
    no Spark job: an empty token stream always, an absent term once the
    dictionary cache holds the vocabulary."""
    reader.query("user", k=3).collect()  # warms the dictionary cache
    assert reader._dict_cache is not None
    for text in ("", "—— ☃ !!!", "zzzneverinthiscorpus"):
        assert job_count(lambda: reader.query(text, k=5).collect()) == 0, text
    assert job_count(lambda: reader.query_many({0: "—— ☃ !!!"}, k=5).collect()) == 0
    assert job_count(lambda: two_gen.phrase_query("—— ☃ !!!", k=5).collect()) == 0


# ------------------------------------------------ one path, every method --


@pytest.fixture(scope="module")
def two_gen(spark, small_dir, tmp_path_factory):
    """A positional index of two generations: build, then one sync."""
    import os

    index_dir = str(tmp_path_factory.mktemp("index") / "two_gen")
    n_parts = len([d for d in os.listdir(small_dir) if d.startswith("part=")])
    kw = dict(buckets=8, shard_docs=64, with_positions=True)
    build_index(spark, small_dir, index_dir, max_parts=n_parts - 1, **kw)
    build_index(spark, small_dir, index_dir, **kw)
    reader = IndexReader(spark, index_dir)
    assert reader.params["next_gen"] == 2
    return reader


def _phrases(spark, small_dir):
    """Token windows taken from indexed turns, so most phrases match."""
    from abstracts_search_spark.sources.transcripts import load_transcripts

    texts = [r["text"] for r in load_transcripts(spark, small_dir).select("text").limit(40).collect()]
    words = [t.split() for t in texts if t and len(t.split()) >= 4]
    return dict(enumerate(
        [" ".join(w[1:3]) for w in words[:8]] + [" ".join(w[:3]) for w in words[8:12]]
        + ["user assistant", "zzznope user", "—— ☃ !!!"]
    ))


@pytest.mark.parametrize("method", ["bmw", "taat", "auto"])
def test_query_many_equals_query_per_method(two_gen, method):
    qset = dict(gen_queries(n=12))
    qset[len(qset)] = "user assistant"
    got: dict[int, list] = {}
    for r in sorted(two_gen.query_many(qset, k=10, method=method).collect(),
                    key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["conv_id"], round(r["score"], 9)))
    for qid, q in qset.items():
        single = [(r["doc_id"], r["conv_id"], round(r["score"], 9))
                  for r in two_gen.query(q, k=10, method=method).collect()]
        assert got.get(qid, []) == single, (method, q)
    assert got


def test_phrase_query_many_equals_phrase_query(spark, small_dir, two_gen):
    phrases = _phrases(spark, small_dir)
    got: dict[int, list] = {}
    for r in two_gen.phrase_query_many(phrases, k=20).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["n_hits"]))
    for qid, p in phrases.items():
        single = [(i + 1, r["doc_id"], r["n_hits"])
                  for i, r in enumerate(two_gen.phrase_query(p, k=20).collect())]
        assert sorted(got.get(qid, [])) == single, p
    assert sum(len(v) for v in got.values()) > 0


def test_single_query_plan_shape(two_gen):
    """A single query is a batch of one ranked by a TakeOrderedAndProject,
    with no per-query window; the BM25 scan sends no positional stream to
    Python, the phrase scan does."""
    for df, positional in ((two_gen.query("user assistant", k=5), False),
                           (two_gen.phrase_query("user the", k=5), True)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan and "Window" not in plan, plan
        assert ("pos_bin" in plan) is positional, plan


def test_single_query_job_count(spark, reader, job_count):
    """A hydrated single read runs at most 3 Spark jobs when every query
    term is in the dictionary cache and at most 4 with a dictionary lookup
    scan: its final ranking is a TakeOrderedAndProject, not a range
    exchange (a sampling job plus a shuffle job)."""
    text = "user assistant"
    rows = reader.query(text, k=5).collect()  # warms the dictionary cache
    assert rows
    assert job_count(lambda: reader.query(text, k=5).collect()) <= 3
    scanning = IndexReader(spark, reader.index_dir, max_cached_terms=0)
    assert scanning._cached_dict() is None
    assert job_count(lambda: scanning.query(text, k=5).collect()) <= 4
    assert scanning.query(text, k=5).collect() == rows
