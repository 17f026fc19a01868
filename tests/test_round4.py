"""Round-4 regression tests: every VERDICT/ADVICE item from round 3 gets a
dedicated test here (same convention as tests/test_round3.py)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE r3: the batched scorer asserts the global-idf invariant
# ---------------------------------------------------------------------------


def test_multi_scorer_conflicting_idf_raises():
    from abstracts_search_spark.operators.wand import make_scorer

    # same term, two different idf values across queries -> loud error, not
    # silent last-write-wins
    with pytest.raises(ValueError, match="conflicting idf"):
        make_scorer({0: {7: 1.5}, 1: {7: 2.5}}, k=10, avgdl=10.0)
    # identical values are fine
    make_scorer({0: {7: 1.5}, 1: {7: 1.5}}, k=10, avgdl=10.0)


# ---------------------------------------------------------------------------
# ADVICE r3: a long-lived IndexReader sees terms indexed by a later sync
# (lookup caches + stats + table handles refresh when params.json changes)
# ---------------------------------------------------------------------------


def test_reader_refreshes_across_incremental_sync(spark, tmp_path):
    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.sources.transcripts import gen_transcripts

    tx = str(tmp_path / "tx")
    idx = str(tmp_path / "idx")
    gen_transcripts(tx, scale="tiny", seed=7)
    parts = sorted(
        int(d.split("=")[1]) for d in os.listdir(tx) if d.startswith("part=")
    )
    assert len(parts) >= 2
    build_index(spark, tx, idx, max_parts=len(parts) - 1)

    # force the big-vocab regime so misses land in _lookup_cache
    reader = IndexReader(spark, idx, max_cached_terms=0)
    before_docs = reader.n_docs

    # a term that only exists in the held-out partition: plant it by querying
    # for a nonsense term first (miss cached), then syncing a partition that
    # contains it via a doctored transcript would be brittle — instead verify
    # the mechanism directly: stats + dictionary refresh after the sync.
    missing = reader.lookup_terms(["zzzqqqxxyy"])
    assert missing == []

    time.sleep(0.05)  # ensure a distinguishable params.json mtime
    build_index(spark, tx, idx)  # ingest + merge the held-out partition

    # the reader must now reflect the post-sync corpus WITHOUT being rebuilt
    assert reader.lookup_terms([]) == []  # no-op path untouched
    reader._refresh_if_stale()
    assert reader.n_docs > before_docs
    # and a real hot term resolves against the refreshed dictionary
    got = reader.lookup_terms(["the"])
    assert got and got[0]["df"] > 0

    # full-query sanity through the refreshed handles
    out = reader.query("user assistant", k=5).collect()
    assert len(out) > 0


def test_reader_stale_miss_not_served_after_sync(spark, tmp_path):
    """The precise ADVICE scenario: a cached dictionary MISS must not survive
    a sync that indexes the term."""
    from abstracts_search_spark.plans.build import build_doc_index, merge_index
    from abstracts_search_spark.plans.query import IndexReader

    docs1 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta gamma delta")], "doc_id long, text string"
    )
    idx = str(tmp_path / "docidx")
    build_doc_index(docs1, idx, buckets=4, shard_docs=64)
    reader = IndexReader(spark, idx, max_cached_terms=0)  # big-vocab regime
    assert reader.lookup_terms(["zebrafish"]) == []  # miss now cached

    # ingest a document containing the term as a new generation, then sync
    # (rewrites params.json)
    from abstracts_search_spark.plans.build import ingest

    extra = spark.createDataFrame(
        [(2, "2", "zebrafish swims", 1, 1, 2)],
        "doc_id long, conv_id string, document string, n_turns long, src_part int, doclen int",
    )
    ingest(extra, idx, [1], buckets=4, shard_docs=64, positions=True, tokenizer="ascii")
    time.sleep(0.05)
    merge_index(spark, idx, buckets=4, shard_docs=64)

    got = reader.lookup_terms(["zebrafish"])  # same reader object
    assert got and got[0]["term"] == "zebrafish" and got[0]["df"] == 1


# ---------------------------------------------------------------------------
# VERDICT r3 #1: the ann_lsh_topk DRIVER query goes through the persisted
# bucket-partitioned ANN index — bucket PartitionFilters on the vectors scan,
# results identical to an exhaustive scan of the probed buckets
# ---------------------------------------------------------------------------


def test_ann_driver_query_prunes_partitions(spark, tmp_path, monkeypatch):
    import numpy as np

    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        hyperplanes,
    )

    rng = np.random.default_rng(11)
    vecs = [(int(i), [float(x) for x in rng.standard_normal(32)]) for i in range(400)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = str(tmp_path / "ann")
    build_ann_index(emb, out, n_planes=8)  # the driver query's geometry
    q = vecs[7][1]

    df = AnnIndexReader(spark, out).topk(q, k=10)
    plan = df._jdf.queryExecution().toString()
    scan = next(
        seg
        for seg in plan.split("FileScan parquet")[1:]
        if "embedding" in seg.split("\n")[0]
    )
    head = scan.split("ReadSchema", 1)[0]
    assert "PartitionFilters" in head
    pf = head.split("PartitionFilters", 1)[1]
    # probe set prunes to bucket-group dirs (bgroup == bucket at n_planes<=8)
    assert "bgroup" in pf[:300], pf[:300]

    # indexed probe == numpy brute force over the Hamming-<=1 probe set (same
    # planes, float32-stored vectors widened to float64, 6-decimal cosine)
    m = np.asarray([v for _, v in vecs], dtype=np.float32).astype(np.float64)
    ids = np.asarray([i for i, _ in vecs], dtype=np.int64)
    weights = 1 << np.arange(8)
    planes = hyperplanes(32, 8, 42)
    buckets = ((m @ planes.T >= 0) * weights).sum(axis=1)
    qv = np.asarray(q, dtype=np.float64)
    qsig = int(((planes @ qv >= 0) * weights).sum())
    probe = {qsig} | {qsig ^ (1 << b) for b in range(8)}
    cand = np.isin(buckets, list(probe))
    cos = np.round((m[cand] @ qv) / (np.linalg.norm(m[cand], axis=1) * np.linalg.norm(qv)), 6)
    order = np.lexsort((ids[cand], -cos))[:10]
    want = [(int(ids[cand][i]), float(cos[i])) for i in order]
    got = [(r["vec_id"], r["cos"]) for r in df.collect()]
    assert got == want


def test_ann_driver_entry_uses_persisted_index(spark):
    """The __spark_entry__ ann_lsh_topk callable builds the cache dir once and
    its plan carries bucket partition filters (no full-corpus re-bucketing).
    Uses the real cache dir on purpose — this is exactly the driver's path,
    and the build-once artifact is deterministic (pre-warming it is desired)."""
    import __spark_entry__ as entrymod

    sf_dir = "/root/testdata/sf0.001"
    df = entrymod.queries()["ann_lsh_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    first = [(r["vec_id"], r["cos"]) for r in df.collect()]
    # second call reuses the cached dir (ann_params.json present) and matches
    df2 = entrymod.queries()["ann_lsh_topk"](spark, sf_dir)
    assert [(r["vec_id"], r["cos"]) for r in df2.collect()] == first
    assert len(first) == entrymod.ANN_K


# ---------------------------------------------------------------------------
# VERDICT r3 #2: positional postings + indexed phrase search
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    """A positional doc index over a corpus with known phrase structure."""
    import numpy as np

    from abstracts_search_spark.plans.build import build_doc_index
    from abstracts_search_spark.plans.query import IndexReader

    rng = np.random.default_rng(21)
    vocab = ["alpha", "beta", "gamma", "delta", "echo", "fox", "golf", "hotel"]
    rows = []
    for i in range(300):
        toks = rng.choice(vocab, size=int(rng.integers(1, 40))).tolist()
        rows.append((i, " ".join(toks)))
    rows.append((300, "alpha beta alpha beta"))        # adjacent repeats: 2
    rows.append((301, "alpha beta x alpha beta"))      # separated: 2
    rows.append((302, "beta alpha"))                   # wrong order: 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path_factory.mktemp("phraseix") / "ix")
    build_doc_index(docs, idx, buckets=8, shard_docs=64)  # positions default ON
    return docs, IndexReader(spark, idx)


def test_phrase_indexed_equals_brute(spark, phrase_index):
    from abstracts_search_spark.operators.phrase import phrase_matches

    docs, reader = phrase_index
    for phrase in ("alpha beta", "beta GAMMA delta", "alpha", "alpha alpha",
                   "echo fox golf", "alpha beta alpha"):
        want = [(r["doc_id"], r["n_hits"]) for r in phrase_matches(docs, phrase, top=1000).collect()]
        got = [(r["doc_id"], r["n_hits"]) for r in reader.phrase_query(phrase, k=1000).collect()]
        assert got == want, phrase


def test_phrase_indexed_edge_cases(spark, phrase_index):
    docs, reader = phrase_index
    # unindexed term in the phrase -> empty, no job needed
    assert reader.phrase_query("alpha zzzznotaword", k=10).collect() == []
    # empty-after-tokenization phrase -> empty
    assert reader.phrase_query("—— ☃ !!!", k=10).collect() == []
    # adjacent repeats count separately (the round-4 semantics)
    got = {r["doc_id"]: r["n_hits"] for r in reader.phrase_query("alpha beta", k=1000).collect()}
    assert got[300] == 2 and got[301] == 2 and 302 not in got


def test_phrase_query_many_matches_per_phrase(spark, phrase_index):
    """Batched phrase search (one job, decode shared across phrases) returns
    exactly the per-phrase phrase_query results, per query_id."""
    docs, reader = phrase_index
    phrases = {
        7: "alpha beta",
        8: "beta gamma delta",
        9: "alpha",
        10: "zzz notindexed",
        11: "—— ☃",
    }
    got = {}
    for r in reader.phrase_query_many(phrases, k=1000).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["n_hits"]))
    for qid, phrase in phrases.items():
        want = [
            (i + 1, r["doc_id"], r["n_hits"])
            for i, r in enumerate(reader.phrase_query(phrase, k=1000).collect())
        ]
        assert sorted(got.get(qid, [])) == want, phrase
    assert 10 not in got and 11 not in got


def test_phrase_query_plan_prunes_buckets_and_pushes_terms(spark, phrase_index):
    """Same plan-shape contract as BM25: the phrase path reads only the
    phrase terms' posting files (bucket PartitionFilters + pushed term_id)."""
    _, reader = phrase_index
    df = reader.phrase_query("alpha beta", k=10)
    plan = df._jdf.queryExecution().toString()
    scan = next(
        seg for seg in plan.split("FileScan parquet")[1:] if "pos_bin" in seg.split("\n")[0]
    )
    head = scan.split("ReadSchema", 1)[0]
    assert "PartitionFilters" in head
    assert "bucket" in head.split("PartitionFilters", 1)[1][:300]
    assert "term_id" in head.split("PushedFilters", 1)[1][:300]
    assert "TakeOrderedAndProject" in plan


def test_phrase_query_requires_positions(spark, tmp_path):
    from abstracts_search_spark.plans.build import build_doc_index
    from abstracts_search_spark.plans.query import IndexReader

    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    idx = str(tmp_path / "nopos")
    build_doc_index(docs, idx, buckets=4, shard_docs=64, with_positions=False)
    reader = IndexReader(spark, idx)
    with pytest.raises(ValueError, match="without positions"):
        reader.phrase_query("alpha beta")
    # BM25 unaffected by the absent stream
    assert reader.query("alpha", k=5).count() == 1


def test_positions_survive_incremental_merge(spark, tmp_path):
    """Generation-stacked positional postings: phrase matches span docs from
    gen=0 and a later synced generation; merge keeps positions intact."""
    from abstracts_search_spark.operators.phrase import phrase_matches
    from abstracts_search_spark.plans.build import build_index, compact_index
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.sources.transcripts import gen_transcripts

    tx = str(tmp_path / "tx")
    idx = str(tmp_path / "ix")
    gen_transcripts(tx, scale="tiny", seed=3)
    build_index(spark, tx, idx, max_parts=1, with_positions=True,
                buckets=8, shard_docs=64)
    build_index(spark, tx, idx, with_positions=True, buckets=8, shard_docs=64)
    reader = IndexReader(spark, idx)
    assert reader.params["positions"] is True

    # brute reference over the same assembled documents
    docs = (
        spark.read.option("basePath", tx).parquet(tx)
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s.getField("text"),
                ),
            ).alias("text")
        )
    )
    want_by_conv = {
        r["doc_id"]: r["n_hits"]  # phrase_matches aliases id_col -> doc_id
        for r in phrase_matches(docs, "user the", top=10_000, id_col="conv_id").collect()
    }
    docmap = {r["doc_id"]: r["conv_id"] for r in reader.docmap.collect()}
    got = {
        docmap[r["doc_id"]]: r["n_hits"]
        for r in reader.phrase_query("user the", k=10_000).collect()
    }
    assert got == want_by_conv and len(got) > 0

    # compaction (fold to gen=0) preserves the stream and the results
    compact_index(spark, idx, buckets=8, shard_docs=64)
    got2 = {
        docmap[r["doc_id"]]: r["n_hits"]
        for r in reader.phrase_query("user the", k=10_000).collect()
    }
    assert got2 == want_by_conv


# ---------------------------------------------------------------------------
# VERDICT r3 #5: pointer-jumping connected components — O(log diameter)
# convergence on adversarial chains + deterministic checkpoint cleanup
# ---------------------------------------------------------------------------


def test_positions_contract_enforced_at_ingest(spark, tmp_path):
    """An index is positional or not, fixed at FIRST ingest: extending with
    the opposite flag is refused (mixed posting rows could not merge)."""
    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.sources.transcripts import gen_transcripts

    tx = str(tmp_path / "tx")
    idx = str(tmp_path / "ix")
    gen_transcripts(tx, scale="tiny", seed=13)
    build_index(spark, tx, idx, max_parts=1, with_positions=True, buckets=4, shard_docs=64)
    with pytest.raises(ValueError, match="positions=True"):
        build_index(spark, tx, idx, with_positions=False, buckets=4, shard_docs=64)
    # matching flag proceeds fine
    build_index(spark, tx, idx, with_positions=True, buckets=4, shard_docs=64)


def test_streaming_build_with_positions_serves_phrase(spark, tmp_path):
    """Structured-Streaming ingest with positions on: the drained index
    serves phrase queries, and results equal the brute scan over the same
    assembled documents."""
    from abstracts_search_spark.operators.phrase import phrase_matches
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.sources.transcripts import gen_transcripts
    from abstracts_search_spark.streaming.incremental import stream_build

    tx = str(tmp_path / "tx")
    idx = str(tmp_path / "ix")
    gen_transcripts(tx, scale="tiny", seed=17)
    stream_build(spark, tx, idx, buckets=8, shard_docs=64, with_positions=True)
    reader = IndexReader(spark, idx)
    assert reader.params["positions"] is True

    docs = (
        spark.read.option("basePath", tx).parquet(tx)
        .filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s.getField("text"),
                ),
            ).alias("text")
        )
    )
    want = {
        r["doc_id"]: r["n_hits"]
        for r in phrase_matches(docs, "user the", top=10_000, id_col="conv_id").collect()
    }
    docmap = {r["doc_id"]: r["conv_id"] for r in reader.docmap.collect()}
    got = {
        docmap[r["doc_id"]]: r["n_hits"]
        for r in reader.phrase_query("user the", k=10_000).collect()
    }
    assert got == want and len(got) > 0
    # mismatched contract on a later drain refused
    with pytest.raises(ValueError, match="positions=True"):
        stream_build(spark, tx, idx, buckets=8, shard_docs=64, with_positions=False)


def test_connected_components_long_path_converges_log_rounds(spark):
    from abstracts_search_spark.operators.dedup import connected_components

    n = 10_000  # plain min-label propagation would need ~n rounds
    edges = spark.range(n - 1).selectExpr("id as doc_a", "id + 1 as doc_b")
    # 20 rounds ≈ log2(10k) + fixpoint-detection slack; O(diameter) would fail
    got = connected_components(edges, max_iter=20)
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == n


def test_connected_components_releases_checkpoints(spark):
    from abstracts_search_spark.operators.dedup import connected_components

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.range(200 - 1).selectExpr("id as doc_a", "id + 1 as doc_b")
    connected_components(edges, max_iter=15).collect()
    after = jsc.getPersistentRDDs().size()
    # every superseded round's localCheckpoint blocks were unpersisted at the
    # RDD level; only the FINAL labels checkpoint (which the returned frame
    # still depends on) may remain
    assert after - before <= 1, (before, after)


def test_connected_components_durable_checkpoint_cleanup(spark, tmp_path):
    from abstracts_search_spark.operators.dedup import connected_components

    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # superseded checkpoint dirs were deleted via the Hadoop FS API; at most
    # the final labels checkpoint (+ the sym edge table released after the
    # result was materialized) may remain on disk
    remaining = [
        os.path.join(r, f)
        for r, _, files in os.walk(ckdir)
        for f in files
        if not f.startswith(".")
    ]
    rdd_dirs = {os.path.basename(os.path.dirname(p)) for p in remaining}
    assert len(rdd_dirs) <= 1, sorted(rdd_dirs)


# ---------------------------------------------------------------------------
# VERDICT r3 #6: tune times the batched path and records a per-shard method
# histogram in params.json
# ---------------------------------------------------------------------------


def test_tune_batched_and_histogram(spark, small_dir, tmp_path):
    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.plans.tune import tune_index

    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64)
    params = tune_index(
        spark, ix,
        sample_queries=["index merge spark", "user assistant", "uniq0000003"],
        batched_runs=2,
    )
    assert params["method"] in ("bmw", "taat", "auto")
    tb = params["tune_batched_sec"]
    assert tb["median"] > 0 and len(tb["runs"]) == 2 and tb["n_queries"] == 3
    hist = params["method_histogram"]
    assert set(hist) == {"taat", "bmw"} and sum(hist.values()) > 0
    # a long-lived reader picks the tuned method up via the params refresh
    reader = IndexReader(spark, ix)
    assert reader.params["method_histogram"] == hist


def test_tune_crash_mid_write_keeps_params(spark, tmp_path, monkeypatch):
    """params.json is the index's completeness marker: a tune that dies while
    writing it must leave the previous complete file, never truncated JSON."""
    import json

    from abstracts_search_spark.plans.build import build_doc_index
    from abstracts_search_spark.plans.tune import tune_index

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta gamma delta")], "doc_id long, text string"
    )
    idx = str(tmp_path / "ix")
    build_doc_index(docs, idx, buckets=4, shard_docs=64)
    params_path = os.path.join(idx, "params.json")
    with open(params_path) as f:
        before = json.load(f)

    def dump_then_fail(obj, fp, *args, **kwargs):
        fp.write(json.dumps(obj)[:20])
        raise OSError("injected: disk full mid-write")

    monkeypatch.setattr(json, "dump", dump_then_fail)
    with pytest.raises(OSError, match="injected"):
        tune_index(spark, idx, sample_queries=["alpha beta"], batched_runs=1)
    monkeypatch.undo()
    with open(params_path) as f:
        assert json.load(f) == before


def test_method_histogram_uses_index_tokenizer(spark, tmp_path):
    """A unicode index's non-Latin sample queries are tokenized with the
    index's tokenizer, so their shards land in the histogram."""
    from abstracts_search_spark.plans.build import build_doc_index
    from abstracts_search_spark.plans.query import IndexReader
    from abstracts_search_spark.plans.tune import method_histogram

    docs = spark.createDataFrame(
        [(0, "Καλημέρα κόσμε"), (1, "Привет мир"), (2, "κόσμε мир")], "doc_id long, text string"
    )
    idx = str(tmp_path / "uni")
    build_doc_index(docs, idx, buckets=4, shard_docs=64, tokenizer="unicode")
    hist = method_histogram(IndexReader(spark, idx), ["κόσμε", "Привет мир"])
    assert sum(hist.values()) > 0, hist


# ---------------------------------------------------------------------------
# VERDICT r3 #7: the ASCII tokenizer boundary is the CONTRACT
# ---------------------------------------------------------------------------


def test_tokenizer_ascii_contract(spark):
    """Non-Latin text tokenizes to an EMPTY stream by contract: the engine's
    single tokenizer is [A-Za-z0-9]+ with ASCII lowering (functions/
    tokenize.py). This keeps Python/JVM/DuckDB semantics bit-identical —
    unicode lowercasing differs across engines on exotic codepoints. Other
    variants are TokenizerSpec entries in functions/tokenize.py (one config
    point: the Python, JVM and DuckDB forms side by side), each with its own
    oracle.
    """
    from abstracts_search_spark.functions.tokenize import get_tokenizer, tokens_expr

    cases = ["Καλημέρα κόσμε", "你好世界", "Привет мир", "🙂🙂", "Grüße aus Köln"]
    got = [get_tokenizer("ascii").tokens(t) for t in cases]
    # pure non-Latin scripts -> empty; mixed strings keep only ASCII runs
    assert got == [[], [], [], [], ["gr", "e", "aus", "k", "ln"]]
    # Catalyst expression agrees (the 'İ'-style lower-first hazards cannot
    # arise because matching happens BEFORE lowering, on ASCII runs only)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, t string")
    got_sql = {r["i"]: r["toks"] for r in df.select("i", tokens_expr("t").alias("toks")).collect()}
    assert [got_sql[i] for i in range(len(cases))] == got


# ---------------------------------------------------------------------------
# VERDICT r3 #8: the Iceberg branch stays honest — exercised iff jars exist
# ---------------------------------------------------------------------------


def _iceberg_available() -> bool:
    try:
        import importlib.util

        return importlib.util.find_spec("pyspark") is not None and any(
            "iceberg" in j.lower()
            for j in os.listdir(os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"), "jars"))
        )
    except OSError:
        return False


# ---------------------------------------------------------------------------
# CLI surface: build --positions -> query + phrase through a fresh JVM
# (the spark-submit --py-files path, north_rule)
# ---------------------------------------------------------------------------


def test_cli_build_query_phrase(tmp_path):
    import json
    import subprocess
    import sys

    from abstracts_search_spark.sources.transcripts import gen_transcripts

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tx = str(tmp_path / "tx")
    ix = str(tmp_path / "ix")
    gen_transcripts(tx, scale="tiny", seed=5)

    def cli(*argv):
        return subprocess.run(
            [sys.executable, os.path.join(repo, "abstracts_search_spark", "cli.py"), *argv],
            capture_output=True, text=True, cwd=str(tmp_path),  # foreign cwd
            env=dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_CPUS="4"),
            check=True, timeout=300,
        ).stdout.strip().splitlines()

    out = cli("build", "--transcripts", tx, "--index", ix,
              "--buckets", "8", "--shard-docs", "64", "--positions")
    assert json.loads(out[-1])["n_docs"] > 0
    got = [json.loads(line) for line in cli("query", "--index", ix, "--text", "user assistant", "-k", "3")]
    assert len(got) == 3 and got[0]["score"] >= got[-1]["score"]
    ph = [json.loads(line) for line in cli("phrase", "--index", ix, "--text", "user the", "-k", "5")]
    assert all(p["n_hits"] >= 1 for p in ph)


@pytest.mark.iceberg
@pytest.mark.skipif(not _iceberg_available(), reason="iceberg runtime jars not in this environment")
def test_iceberg_backend_round_trip(spark, tmp_path, monkeypatch):
    """Runs the day the environment carries the Iceberg runtime: commit +
    read_table through the catalog, snapshot-atomic overwrite semantics."""
    from abstracts_search_spark.sources.tables import commit, read_table

    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    commit(df, str(tmp_path), "t")
    got = read_table(spark, str(tmp_path), "t").collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "a")]
