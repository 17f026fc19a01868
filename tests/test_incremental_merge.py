"""Generation-stacked incremental sync: a sync after new partitions arrive
encodes ONLY the new partitions' postings (appended as gen=G), leaves the
standing postings untouched, and queries remain rank-identical to a
from-scratch build (VERDICT r01 item 6). The bucket count is an index-wide
contract: a sync under another one is refused."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.plans.build import build_index, compact_index, merge_index
from abstracts_search_spark.plans.query import IndexReader
from abstracts_search_spark.sources.tables import read_table

QUERIES = ["index merge spark", "user assistant", "table scan value"]


def _results(spark, ix):
    r = IndexReader(spark, ix)
    return [
        [(row["conv_id"], round(row["score"], 9)) for row in r.query(q, k=10).collect()]
        for q in QUERIES
    ]


def _gen_files(ix, gen):
    root = os.path.join(ix, "postings", f"gen={gen}")
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_incremental_merge_touches_only_new_segments(spark, small_dir, tmp_path):
    # from-scratch truth over ALL partitions
    scratch = str(tmp_path / "scratch")
    build_index(spark, small_dir, scratch, buckets=8, shard_docs=64)
    want = _results(spark, scratch)

    # build parts {0,1,2} then sync part 3 separately
    ix = str(tmp_path / "ix")
    m1 = build_index(spark, small_dir, ix, buckets=8, shard_docs=64, max_parts=3)
    assert m1["pending_parts"] == 3
    gen0_before = _gen_files(ix, 0)
    assert gen0_before

    m2 = build_index(spark, small_dir, ix, buckets=8, shard_docs=64)
    assert m2["pending_parts"] == 1

    # the standing generation was not rewritten (same files, same mtimes)...
    assert _gen_files(ix, 0) == gen0_before
    # ...and the new generation covers exactly the new partition's doc range
    gen1 = read_table(spark, ix, "postings").filter(F.col("gen") == 1)
    part3_min = (
        read_table(spark, ix, "docmap")
        .filter(F.col("src_part") == 3)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    assert gen1.count() > 0
    assert gen1.agg(F.min("first_doc")).collect()[0][0] >= part3_min

    # rank-identical to the from-scratch build, including hot-term queries
    assert _results(spark, ix) == want

    # compaction folds generations back to gen=0, results unchanged
    compact_index(spark, ix, buckets=8, shard_docs=64)
    gens = {d for d in os.listdir(os.path.join(ix, "postings")) if d.startswith("gen=")}
    assert gens == {"gen=0"}
    assert _results(spark, ix) == want


def test_sync_with_other_bucket_count_refused(spark, small_dir, tmp_path):
    """A sync under a different bucket count would put a term's new postings
    in another bucket than its dictionary entry points the scan at (a query
    then silently loses the new generation's documents); it is refused
    before anything is written."""
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64, max_parts=3)
    listing = sorted(
        (dp, sorted(fs)) for dp, _, fs in os.walk(ix)
    )
    with pytest.raises(ValueError, match="buckets=8"):
        build_index(spark, small_dir, ix, buckets=4, shard_docs=64)
    with pytest.raises(ValueError, match="shard_docs=64"):
        build_index(spark, small_dir, ix, buckets=8, shard_docs=32)
    with pytest.raises(ValueError, match="buckets=8"):
        compact_index(spark, ix, buckets=4, shard_docs=64)
    assert sorted((dp, sorted(fs)) for dp, _, fs in os.walk(ix)) == listing


def test_sync_and_attach_job_counts(spark, small_dir, tmp_path, job_count):
    """A one-part sync onto a built positional index runs no schema-
    inference job (every index table is read with its declared schema) and
    writes its lineage and stats rows without Python-worker tasks: at most
    19 ingest jobs and 6 merge jobs. A reader attach runs one job, the
    stats row's collect."""
    ix = str(tmp_path / "ix")
    opts = dict(buckets=8, shard_docs=64, with_positions=True)
    build_index(spark, small_dir, ix, max_parts=3, **opts)
    ingest = job_count(lambda: build_index(spark, small_dir, ix, skip_merge=True, **opts))
    merge = job_count(lambda: merge_index(spark, ix, buckets=8, shard_docs=64))
    attach = job_count(lambda: IndexReader(spark, ix))
    assert ingest <= 19 and merge <= 6 and attach <= 1, (ingest, merge, attach)


def test_transcripts_read_runs_no_inference_job(spark, small_dir, tmp_path, job_count):
    """build_index reads the source with its declared schema: the same ingest
    over a schema-inferring read runs one job more and writes the same
    postings and docmap rows."""
    from abstracts_search_spark.operators.postings import POSTINGS_TABLE
    from abstracts_search_spark.plans.build import DOCMAP_TABLE, documents, ingest

    declared_ix, inferred_ix = str(tmp_path / "declared"), str(tmp_path / "inferred")
    opts = dict(buckets=8, shard_docs=64)
    declared = job_count(lambda: build_index(
        spark, small_dir, declared_ix, max_parts=1, skip_merge=True, with_positions=True, **opts))

    def inferred_ingest():
        turns = spark.read.option("basePath", small_dir).parquet(os.path.join(small_dir, "part=0"))
        ingest(documents(turns.withColumnRenamed("part", "src_part"), "ascii"), inferred_ix, [0],
               positions=True, tokenizer="ascii", **opts)

    inferred = job_count(inferred_ingest)
    assert declared == inferred - 1, (declared, inferred)
    for name, ddl in (("postings", POSTINGS_TABLE), ("docmap", DOCMAP_TABLE)):
        rows = [sorted(map(repr, read_table(spark, ix, name, ddl).collect()))
                for ix in (declared_ix, inferred_ix)]
        assert rows[0] == rows[1], name


def test_declared_table_schemas_equal_inferred(spark, small_dir, tmp_path):
    """The declared schema of every text-index table is exactly what Spark
    infers from the files, columns in the same order."""
    from abstracts_search_spark.operators.postings import POSTINGS_TABLE
    from abstracts_search_spark.plans.build import (
        DICTIONARY_TABLE,
        DOCMAP_TABLE,
        LINEAGE_TABLE,
        STATS_TABLE,
    )

    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64, max_parts=2)
    for name, ddl in (("postings", POSTINGS_TABLE), ("docmap", DOCMAP_TABLE),
                      ("lineage", LINEAGE_TABLE), ("dictionary", DICTIONARY_TABLE),
                      ("stats", STATS_TABLE)):
        inferred = read_table(spark, ix, name)
        declared = read_table(spark, ix, name, ddl)
        assert declared.schema.simpleString() == inferred.schema.simpleString(), name
        assert sorted(map(repr, declared.collect())) == sorted(map(repr, inferred.collect())), name
