"""Round-3 scale-hardening tests (VERDICT r02 items 1-9 + ADVICE):

- zone-vectorized block-max WAND ranks identically to TAAT and to an
  exhaustive numpy top-k over every decoded posting on multi-block lists,
- IndexReader never runs a vocabulary-sized driver job (lazy, bounded cache),
- incremental syncs add dictionary rows for ONLY the new generation, and
  df summed per term / stats equal a full re-aggregation,
- generation fan-out auto-compacts past max_generations,
- a crash during compaction can no longer destroy the live postings table,
- streaming epoch replay cannot double-count lineage metrics,
- the ANN index goes through the crash-atomic table facade,
- the one-conversation-one-source-partition invariant holds on fixtures.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.codecs.postings import decode_posting_list, encode_posting_list
from abstracts_search_spark.operators.wand import idf_of, make_scorer, wand_topk
from abstracts_search_spark.plans.build import (
    build_index,
    compact_index,
    merge_index,
    _dictionary_delta,
)
from abstracts_search_spark.plans.query import IndexReader
from abstracts_search_spark.sources.tables import read_table

BUILD_KW = dict(buckets=8, shard_docs=64)
QUERIES = ["index merge spark", "user assistant", "table scan value"]


def _results(spark, ix, **kw):
    r = IndexReader(spark, ix)
    return [
        [(row["conv_id"], round(row["score"], 9)) for row in r.query(q, k=10, **kw).collect()]
        for q in QUERIES
    ]


# ------------------------------------------------------------- WAND zones --


def taat_topk(rows, idfs, k, k1, b, avgdl):
    """The shard scorer forced to TAAT on one query -> [(doc_id, score)]."""
    out = make_scorer({0: idfs}, k, avgdl, k1=k1, b=b, method="taat")(pd.DataFrame(rows))
    return list(zip(out["doc_id"].tolist(), out["score"].tolist()))


def brute_topk(rows, idfs, k, k1, b, avgdl):
    """Exhaustive top-k: every posting of every list decoded and scored,
    contributions summed per doc in row order -> [(doc_id, score)] ranked
    (score DESC, doc_id ASC)."""
    scores: dict[int, float] = {}
    for row in rows:
        docs, tfs, dls = decode_posting_list(row)
        tf, dl = tfs.astype(np.float64), dls.astype(np.float64)
        contrib = idfs[row["term_id"]] * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        for d, c in zip(docs.tolist(), contrib.tolist()):
            scores[d] = scores.get(d, 0.0) + c
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def _random_shard(rng, n_docs=4000, n_terms=6, max_df=1800, tie_scores=False):
    dls = rng.integers(10, 200, size=n_docs).astype(np.int64)
    rows, idfs = [], {}
    for t in range(n_terms):
        df = int(rng.integers(1, max_df))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = (
            np.ones(df, dtype=np.int64)
            if tie_scores
            else rng.integers(1, 6, size=df).astype(np.int64)
        )
        dl = np.full(df, 50, dtype=np.int64) if tie_scores else dls[docs]
        row = encode_posting_list(docs, tfs, dl)
        row["term_id"] = t
        rows.append(row)
        idfs[t] = idf_of(n_docs, df)
    return rows, idfs


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("k", [1, 3, 10, 100])
def test_wand_zone_equals_docwise_and_taat(seed, k):
    """Zone scorer == TAAT == the exhaustive document-wise scan."""
    rng = np.random.default_rng(seed)
    rows, idfs = _random_shard(rng, tie_scores=(seed == 3))
    args = (rows, idfs, k, 1.2, 0.75, 90.0)
    zone = wand_topk(*args)
    # zone scorer, TAAT and the exhaustive scan all sum a doc's contributions
    # in row order → BIT-identical. method="auto" switches between zone and
    # TAAT per shard, so any divergence would make rankings method-dependent.
    assert zone == taat_topk(*args) == brute_topk(*args)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def test_wand_zone_equals_taat_property(data):
        """Property: the zone scorer and TAAT are BIT-identical on arbitrary
        shard shapes (list counts, dfs, doc ranges, ties, k)."""
        rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
        n_docs = data.draw(st.integers(10, 3000))
        n_terms = data.draw(st.integers(1, 5))
        k = data.draw(st.integers(1, 30))
        tie = data.draw(st.booleans())
        dls = rng.integers(10, 200, size=n_docs).astype(np.int64)
        rows, idfs = [], {}
        for t in range(n_terms):
            df = int(rng.integers(1, n_docs + 1))
            docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
            tfs = (np.ones(df) if tie else rng.integers(1, 6, size=df)).astype(np.int64)
            dl = np.full(df, 50, dtype=np.int64) if tie else dls[docs]
            row = encode_posting_list(docs, tfs, dl)
            row["term_id"] = t
            rows.append(row)
            idfs[t] = idf_of(n_docs, df)
        args = (rows, idfs, k, 1.2, 0.75, 90.0)
        assert wand_topk(*args) == taat_topk(*args)
except ImportError:  # pragma: no cover - hypothesis is in the sandbox image
    pass


def test_wand_zone_subset_of_terms():
    # query references only some of the shard's rows (the applyInPandas shape)
    rng = np.random.default_rng(7)
    rows, idfs = _random_shard(rng, n_terms=4)
    args = ([rows[0], rows[2]], {0: idfs[0], 2: idfs[2]}, 5, 1.2, 0.75, 90.0)
    assert wand_topk(*args) == taat_topk(*args)
    assert wand_topk(*args) == brute_topk(*args)


def test_wand_zone_single_sparse_term():
    rng = np.random.default_rng(11)
    rows, idfs = _random_shard(rng, n_terms=1, max_df=5)
    args = (rows, idfs, 10, 1.2, 0.75, 90.0)
    assert wand_topk(*args) == taat_topk(*args)
    assert wand_topk(*args) == brute_topk(*args)


# ------------------------------------------- reader: bounded, lazy lookup --


def test_reader_runs_no_vocab_sized_driver_job(spark, small_dir, tmp_path):
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, **BUILD_KW)
    r = IndexReader(spark, ix)
    assert r.params["n_terms"] > 0
    assert r._dict_cache is None  # nothing collected at construction
    got = r.lookup_terms(["user", "zzzneverinthiscorpus"])
    assert [e["term"] for e in got] == ["user"]
    assert r._dict_cache is not None  # small vocab → lazy cache after 1st use

    # vocab over the cap → cache stays off, pushed-scan lookup still correct
    big = IndexReader(spark, ix, max_cached_terms=2)
    got2 = big.lookup_terms(["user", "zzzneverinthiscorpus"])
    assert big._dict_cache is None
    assert got == got2
    # pushed-scan results are memoized (hits AND misses) within the cap…
    assert set(big._lookup_cache.values()) == {
        (got[0]["df"], got[0]["bucket"]), None
    }
    assert big.lookup_terms(["user", "zzzneverinthiscorpus"]) == got2
    # …and the cap stops growth without breaking results
    got3 = big.lookup_terms(["user", "assistant", "spark"])
    assert {e["term"] for e in got3} >= {"user", "assistant"}
    assert len(big._lookup_cache) <= 2
    a = [(x["doc_id"], round(x["score"], 9)) for x in r.query("user assistant").collect()]
    b = [(x["doc_id"], round(x["score"], 9)) for x in big.query("user assistant").collect()]
    assert a == b


# -------------------------------------- incremental dictionary/stats merge --


def _dict_rows(spark, ix):
    """(term_id, df summed over the dictionary's generations, bucket)."""
    return sorted(
        (int(r["term_id"]), int(r["df"]), int(r["bucket"]))
        for r in read_table(spark, ix, "dictionary")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .collect()
    )


def test_incremental_dictionary_and_stats_equal_full_reagg(spark, small_dir, tmp_path):
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, max_parts=3, **BUILD_KW)
    build_index(spark, small_dir, ix, **BUILD_KW)  # sync part 3 → gen=1

    # the sync's dictionary delta reads ONLY gen=1 rows: the scan plan carries
    # a gen partition filter (partition pruning, not a full-postings read)
    delta = _dictionary_delta(spark, ix, 1)
    plan = delta._jdf.queryExecution().toString()
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "gen" in after[1][:200], plan

    got = _dict_rows(spark, ix)
    full = sorted(
        (int(r["term_id"]), int(r["df"]), int(r["bucket"]))
        for r in read_table(spark, ix, "postings")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .collect()
    )
    assert got == full

    # stats: incremental arithmetic combine == full docmap re-aggregation
    srow = read_table(spark, ix, "stats").collect()[0]
    want = (
        read_table(spark, ix, "docmap")
        .agg(F.count("*").alias("n"), F.avg("doclen").alias("a"), F.sum("doclen").alias("t"))
        .collect()[0]
    )
    assert int(srow["n_docs"]) == int(want["n"])
    assert int(srow["total_tokens"]) == int(want["t"])
    assert abs(float(srow["avgdl"]) - float(want["a"])) < 1e-12
    assert read_table(spark, ix, "dictionary").count() == IndexReader(spark, ix).params["n_terms"]


def test_sync_crash_replay_does_not_double_count_dictionary(spark, small_dir, tmp_path):
    """Crash after the sync's dictionary commit but before stats/params.json:
    the rerun finds the generation's dictionary delta already there and must
    not add it twice — df/doc counts stay equal to a full re-aggregation."""
    from abstracts_search_spark.sources import tables

    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, max_parts=3, **BUILD_KW)
    tables._FAIL_AFTER = "dictionary"
    try:
        with pytest.raises(tables.InjectedCrash):
            build_index(spark, small_dir, ix, **BUILD_KW)
    finally:
        tables._FAIL_AFTER = None
    build_index(spark, small_dir, ix, **BUILD_KW)  # heals: scrub + re-append

    got = _dict_rows(spark, ix)
    full = sorted(
        (int(r["term_id"]), int(r["df"]), int(r["bucket"]))
        for r in read_table(spark, ix, "postings")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .collect()
    )
    assert got == full
    srow = read_table(spark, ix, "stats").collect()[0]
    want = (
        read_table(spark, ix, "docmap")
        .agg(F.count("*").alias("n"), F.sum("doclen").alias("t"))
        .collect()[0]
    )
    assert int(srow["n_docs"]) == int(want["n"])
    assert int(srow["total_tokens"]) == int(want["t"])

    # and the healed index ranks identically to a from-scratch build
    scratch = str(tmp_path / "scratch")
    build_index(spark, small_dir, scratch, **BUILD_KW)
    assert _results(spark, ix) == _results(spark, scratch)


def test_crash_then_late_arriving_part_falls_back_to_full_reagg(spark, small_dir, tmp_path):
    """A crash after the sync's dictionary commit followed by a NEW partition
    arriving before the retry: the late part is ingested as its own
    generation and gets its own dictionary delta, so df and stats still
    equal a full re-aggregation over the committed postings/docmap."""
    from abstracts_search_spark.sources import tables

    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, max_parts=2, **BUILD_KW)
    tables._FAIL_AFTER = "dictionary"
    try:
        with pytest.raises(tables.InjectedCrash):
            build_index(spark, small_dir, ix, max_parts=3, **BUILD_KW)  # part 2
    finally:
        tables._FAIL_AFTER = None
    # part 3 "arrives" before the retry; one rerun ingests it and re-merges
    build_index(spark, small_dir, ix, **BUILD_KW)

    got = _dict_rows(spark, ix)
    full = sorted(
        (int(r["term_id"]), int(r["df"]), int(r["bucket"]))
        for r in read_table(spark, ix, "postings")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.first("bucket").alias("bucket"))
        .collect()
    )
    assert got == full
    srow = read_table(spark, ix, "stats").collect()[0]
    want = (
        read_table(spark, ix, "docmap")
        .agg(F.count("*").alias("n"), F.sum("doclen").alias("t"))
        .collect()[0]
    )
    assert int(srow["n_docs"]) == int(want["n"])
    assert int(srow["total_tokens"]) == int(want["t"])
    scratch = str(tmp_path / "scratch")
    build_index(spark, small_dir, scratch, **BUILD_KW)
    assert _results(spark, ix) == _results(spark, scratch)


def test_flat_lineage_layout_is_refused(spark, small_dir, tmp_path):
    """Extending a pre-format-4 index (flat lineage files) must fail loudly
    BEFORE any write — appending generations next to the flat files would
    corrupt the table. The params.json format stamp refuses it."""
    ix = str(tmp_path / "ix")
    os.makedirs(os.path.join(ix, "lineage"))
    with open(os.path.join(ix, "lineage", "part-00000.parquet"), "wb") as f:
        f.write(b"not really parquet")
    with open(os.path.join(ix, "params.json"), "w") as f:
        json.dump({"format": 3, "tokenizer": "ascii", **BUILD_KW}, f)
    listing = sorted(os.walk(ix))

    with pytest.raises(ValueError, match="format 3.*re-ingest"):
        build_index(spark, small_dir, ix, **BUILD_KW)
    with pytest.raises(ValueError, match="format 3.*re-ingest"):
        IndexReader(spark, ix)
    assert sorted(os.walk(ix)) == listing


# ------------------------------------------------------- auto-compaction --


def test_auto_compaction_bounds_generations(spark, small_dir, tmp_path):
    scratch = str(tmp_path / "scratch")
    build_index(spark, small_dir, scratch, **BUILD_KW)
    want = _results(spark, scratch)

    ix = str(tmp_path / "ix")
    # syncs: parts {0} → gen0, {1, 2} → gen1, {3} → gen2 trips max_generations=2.
    # Only the FIRST merge sets the policy explicitly — later syncs pass
    # nothing and must honor the value persisted in params.json
    for n in (1, 2, 3, 4):
        build_index(spark, small_dir, ix, max_parts=n, skip_merge=True, **BUILD_KW)
        merge_index(spark, ix, max_generations=2 if n == 1 else None, **BUILD_KW)
        gens = {d for d in os.listdir(os.path.join(ix, "postings")) if d.startswith("gen=")}
        assert len(gens) <= 3  # bound holds at every point (compaction folds)
    assert _results(spark, ix) == want
    # the policy fired: the third generation pushed the count past 2 and
    # gens 0-2 were folded into gen=0 (generation numbers keep counting up —
    # lineage/gen=G stays each ingest's commit marker)
    import json

    with open(os.path.join(ix, "params.json")) as f:
        params = json.load(f)
    assert params["max_generations"] == 2
    assert params["next_gen"] == 3
    assert gens == {"gen=0"}


def test_compaction_crash_cannot_destroy_live_postings(spark, small_dir, tmp_path, monkeypatch):
    """ADVICE r02 (medium): a crash DURING compaction, before the postings
    overwrite commits, must leave the standing index fully queryable — the old
    code pre-deleted every live gen=* dir before the re-merge."""
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, max_parts=3, **BUILD_KW)
    build_index(spark, small_dir, ix, **BUILD_KW)  # → gen=0 + gen=1
    want = _results(spark, ix)
    gens_before = {d for d in os.listdir(os.path.join(ix, "postings")) if d.startswith("gen=")}
    assert gens_before == {"gen=0", "gen=1"}

    import abstracts_search_spark.plans.build as build_mod

    def boom(*a, **k):
        raise RuntimeError("injected crash before the compaction commit")

    monkeypatch.setattr(build_mod, "merge_segments", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_index(spark, ix, **BUILD_KW)
    monkeypatch.undo()

    # live postings untouched, index still queryable, identical results
    gens_after = {d for d in os.listdir(os.path.join(ix, "postings")) if d.startswith("gen=")}
    assert gens_after == gens_before
    assert _results(spark, ix) == want
    # and the real compaction still converges afterwards
    compact_index(spark, ix, **BUILD_KW)
    assert {d for d in os.listdir(os.path.join(ix, "postings")) if d.startswith("gen=")} == {"gen=0"}
    assert _results(spark, ix) == want


# ------------------------------------------- streaming lineage idempotency --


def test_streaming_replay_does_not_double_count_lineage(spark, small_dir, tmp_path):
    """ADVICE r02 (low): crash after the lineage commit but before the
    streaming checkpoint commit → the epoch replays; its lineage row must be
    REPLACED, not appended twice."""
    from abstracts_search_spark.sources import tables
    from abstracts_search_spark.streaming.incremental import stream_build

    ix = str(tmp_path / "ix_stream")
    tables._FAIL_AFTER = "lineage"
    try:
        with pytest.raises(Exception):
            stream_build(spark, small_dir, ix, buckets=8, shard_docs=64)
    finally:
        tables._FAIL_AFTER = None

    # the crashed epoch DID commit its lineage row (crash fired after commit)
    crashed = read_table(spark, ix, "lineage").collect()
    assert len(crashed) >= 1

    stream_build(spark, small_dir, ix, buckets=8, shard_docs=64)
    lin = read_table(spark, ix, "lineage")
    per_part = lin.groupBy("src_part").count().collect()
    assert all(int(r["count"]) == 1 for r in per_part), per_part
    # metrics add up: lineage n_docs == docmap rows (no double count)
    n_lin = lin.agg(F.sum("n_docs")).collect()[0][0]
    n_map = read_table(spark, ix, "docmap").count()
    assert int(n_lin) == int(n_map)

    # and the replayed build still matches a batch build rank-for-rank
    ixb = str(tmp_path / "ix_batch")
    build_index(spark, small_dir, ixb, buckets=8, shard_docs=64)
    assert _results(spark, ix) == _results(spark, ixb)


# ------------------------------------------------------- ANN via facade ----


def test_ann_index_commits_through_facade(spark, tmp_path):
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        cosine_topk,
    )
    from abstracts_search_spark.sources import tables

    rng = np.random.default_rng(5)
    vecs = [(int(i), [float(x) for x in rng.standard_normal(16)]) for i in range(300)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = str(tmp_path / "ann")
    q = vecs[3][1]

    tables._FAIL_AFTER = "vectors"
    try:
        with pytest.raises(tables.InjectedCrash):
            build_ann_index(emb, out, n_planes=4)
    finally:
        tables._FAIL_AFTER = None
    # the vectors table committed atomically before the crash; the rebuild
    # overwrite (tmp→swap) converges and the probed query matches brute force
    build_ann_index(emb, out, n_planes=4)
    got = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, out).topk(q, k=1).collect()]
    want = [(r["vec_id"], r["cos"]) for r in cosine_topk(emb, q, k=1).collect()]
    assert got == want  # the query's own bucket always contains itself


# ------------------------------------------------- dedup clustering -------


def test_connected_components_chain_and_islands(spark):
    from abstracts_search_spark.operators.dedup import connected_components

    # a 5-node chain (diameter > 1 round forces iteration), a 2-cycle with a
    # pendant, and an isolated pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10), (11, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # non-convergence (diameter > max_iter rounds) must raise, never return
    # split clusters silently
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_dedup_clusters_end_to_end(spark):
    from abstracts_search_spark.operators.dedup import dedup_clusters

    rows = [(i, f"totally unique document number {i} with its own words {i*7}") for i in range(20)]
    dup = "the same boilerplate text repeated across many documents verbatim again and again"
    rows += [(100 + i, dup) for i in range(4)]  # one 4-doc cluster
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["keep"]) for r in dedup_clusters(docs).collect()
    )
    assert got == [(100, 100, 1), (101, 100, 0), (102, 100, 0), (103, 100, 0)]


# -------------------------------------------------- plan-shape regression --


def test_query_plan_prunes_buckets_and_pushes_terms(spark, small_dir, tmp_path):
    """Lock in the scale-critical physical-plan properties of the query path
    (PLANS.md): bucket PARTITION pruning (the IVF-probe analog), the
    In(term_id,…) predicate pushed into the parquet scan (row-group pruning
    against term_id-sorted files), and broadcast hydration of the k-row
    result — so a refactor can't silently regress them into full scans."""
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, **BUILD_KW)
    r = IndexReader(spark, ix)
    df = r.query("index merge spark", k=10)
    plan = df._jdf.queryExecution().toString()

    # the postings scan is the one reading the encoded posting columns
    postings_scan = next(
        seg for seg in plan.split("FileScan parquet") if "doc_bin" in seg.split("\n")[0]
    )
    head = postings_scan.split("ReadSchema", 1)[0]
    assert "PartitionFilters" in head
    pf = head.split("PartitionFilters", 1)[1]
    assert "bucket" in pf[:300], pf[:300]
    assert "PushedFilters" in head
    pushed = head.split("PushedFilters", 1)[1]
    assert "term_id" in pushed[:300], pushed[:300]
    # top-k is a bounded TakeOrderedAndProject, never a global sort of scores
    assert "TakeOrderedAndProject" in plan
    # hydration joins the k-row side as the broadcast build side
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------- phrase search --


def test_phrase_matches_exact_and_normalized(spark):
    from abstracts_search_spark.operators.phrase import phrase_matches

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "beta alpha beta gamma alpha"),
            (2, "alpha, BETA! gamma"),  # punctuation/case normalize away
            (3, "alpha gamma beta"),    # right words, wrong order: no match
            (4, "xalpha beta gamma"),   # token boundary: 'xalpha' != 'alpha'
            (5, None),
            # IMMEDIATELY adjacent repeats count separately since round 4
            # (double-space padding: occurrences never share a delimiter)
            (6, "alpha beta alpha beta"),
            (7, "alpha beta x alpha beta y alpha beta"),  # separated: 3 hits
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in phrase_matches(docs, "Alpha BETA").collect()}
    assert got == {0: 1, 1: 1, 2: 1, 6: 2, 7: 3}
    # rank order: n_hits DESC then doc_id ASC
    order = [r["doc_id"] for r in phrase_matches(docs, "alpha beta").collect()]
    assert order == [7, 6, 0, 1, 2]
    assert phrase_matches(docs, "☃ ☃").count() == 0
    assert phrase_matches(docs, "beta gamma").filter(F.col("doc_id") == 3).count() == 0


def test_phrase_count_matches_python_reference(spark, greedy_count):
    """phrase_matches' counts == an independent greedy counter over the
    tokenizer's stream, on random token streams and on the self-overlap
    ('a a' in 'a a a': once) and adjacent-repeat ('new york new york':
    twice) cases (both are non-overlapping left-to-right; double-space
    padding means adjacent occurrences all count)."""
    import numpy as np

    from abstracts_search_spark.functions.tokenize import get_tokenizer
    from abstracts_search_spark.operators.phrase import phrase_matches

    tokens = get_tokenizer("ascii").tokens
    rng = np.random.default_rng(9)
    vocab = ["aa", "bb", "cc", "Dd!"]
    rows = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(0, 30)).tolist()))
        for i in range(300)
    ] + [
        (300, "a a a"),
        (301, "A a, a a"),
        (302, "new york new york"),
        (303, "New York, NEW york!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for phrase in ("aa bb", "a a", "new york"):
        got[phrase] = {
            r["doc_id"]: r["n_hits"]
            for r in phrase_matches(docs, phrase, top=len(rows)).collect()
        }
        for i, text in rows:
            want = greedy_count(tokens(text), tokens(phrase))
            assert got[phrase].get(i, 0) == want, (phrase, i, text)
    assert got["a a"] == {300: 1, 301: 2}
    assert got["new york"] == {302: 2, 303: 2}


# ---------------------------------------------------- fixture invariants ---


def test_one_conversation_one_source_partition(spark, small_dir, tiny_dir):
    """plans/build.py takes F.first('part') per conversation — valid only
    under this invariant; if a pipeline ever splits a conversation across
    source partitions, doc assembly must move to a conv-level repartition."""
    for d in (small_dir, tiny_dir):
        t = spark.read.option("basePath", d).parquet(d)
        bad = (
            t.groupBy("conv_id")
            .agg(F.countDistinct("part").alias("nparts"))
            .filter(F.col("nparts") > 1)
            .count()
        )
        assert bad == 0
