"""Table facade: crash-atomic overwrites + rerun convergence around every
write boundary (SURVEY §7d; the `make recover` contract, Makefile:98-101)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.plans.build import build_index
from abstracts_search_spark.plans.query import IndexReader
from abstracts_search_spark.sources import tables
from abstracts_search_spark.sources.tables import InjectedCrash, commit, read_table


@pytest.fixture(autouse=True)
def _clear_hook():
    yield
    tables._FAIL_AFTER = None


def test_overwrite_swap_and_rollback(spark, tmp_path):
    root = str(tmp_path / "root")
    os.makedirs(root)
    v1 = spark.range(5).select(F.col("id").alias("x"))
    commit(v1, root, "t")
    assert read_table(spark, root, "t").count() == 5
    v2 = spark.range(9).select(F.col("id").alias("x"))
    commit(v2, root, "t")
    assert read_table(spark, root, "t").count() == 9
    # simulate the one ambiguous crash window: live dir moved aside, new one
    # never renamed in — read_table must roll the old table back
    os.rename(os.path.join(root, "t"), os.path.join(root, "t.__old"))
    assert read_table(spark, root, "t").count() == 9
    assert os.path.exists(os.path.join(root, "t"))


def _query_rows(spark, index_dir, q="index merge spark", key="doc_id"):
    r = IndexReader(spark, index_dir)
    return [(row[key], round(row["score"], 9)) for row in r.query(q, k=10).collect()]


# every write boundary of a text build: the ingest's postings generation,
# docmap and lineage (the commit marker), then the merge's derived tables
BOUNDARIES = ["postings", "docmap", "lineage", "dictionary", "stats"]


@pytest.fixture(scope="module")
def fresh_want(spark, tiny_dir, tmp_path_factory):
    """Ranks of a never-crashed fresh build."""
    clean = str(tmp_path_factory.mktemp("fresh_crash") / "clean_idx")
    build_index(spark, tiny_dir, clean)
    want = _query_rows(spark, clean)
    assert want
    return want


@pytest.mark.parametrize("fail_after", BOUNDARIES)
def test_crash_then_rerun_converges(spark, tiny_dir, tmp_path, fresh_want, fail_after):
    """Kill a fresh build right after each artifact commit; a plain rerun
    must converge to the same index as a never-crashed build."""
    want = fresh_want
    crashed = str(tmp_path / f"crash_{fail_after}")
    tables._FAIL_AFTER = fail_after
    with pytest.raises(InjectedCrash):
        build_index(spark, tiny_dir, crashed)
    tables._FAIL_AFTER = None
    build_index(spark, tiny_dir, crashed)  # plain rerun, no special recovery
    assert _query_rows(spark, crashed) == want


SYNC_KW = dict(buckets=8, shard_docs=64)


def test_ingest_releases_cached_frames(spark, small_dir, tmp_path):
    """An ingest leaves no cached RDD in the session: not after a build plus
    one sync, and not after an ingest that crashes mid-write (the doc-id
    range frame, the persisted ids and docs are released in a finally)."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, max_parts=2, **SYNC_KW)
    build_index(spark, small_dir, ix, **SYNC_KW)
    assert jsc.getPersistentRDDs().size() == before
    tables._FAIL_AFTER = "docmap"
    with pytest.raises(InjectedCrash):
        build_index(spark, small_dir, str(tmp_path / "crashed"), **SYNC_KW)
    assert jsc.getPersistentRDDs().size() == before


@pytest.fixture(scope="module")
def sync_base(spark, small_dir, tmp_path_factory):
    """(index over the first 2 source partitions, ranks of a never-crashed
    from-scratch build over all 4)."""
    root = tmp_path_factory.mktemp("sync_crash")
    base = str(root / "base")
    build_index(spark, small_dir, base, max_parts=2, **SYNC_KW)
    clean = str(root / "clean")
    build_index(spark, small_dir, clean, **SYNC_KW)
    return base, _query_rows(spark, clean, key="conv_id")


@pytest.mark.parametrize("fail_after", BOUNDARIES)
def test_sync_crash_then_rerun_converges(spark, small_dir, tmp_path, sync_base, fail_after):
    """The same boundaries during a 2-part sync onto an existing index: the
    rerun converges to a never-crashed from-scratch build's ranks."""
    import shutil

    base, want = sync_base
    ix = str(tmp_path / "ix")
    shutil.copytree(base, ix)
    tables._FAIL_AFTER = fail_after
    with pytest.raises(InjectedCrash):
        build_index(spark, small_dir, ix, **SYNC_KW)
    tables._FAIL_AFTER = None
    build_index(spark, small_dir, ix, **SYNC_KW)
    assert _query_rows(spark, ix, key="conv_id") == want


def test_iceberg_flip_identifier_and_gating(spark, tmp_path, monkeypatch):
    """The iceberg backend is a config flip: identifiers resolve through the
    catalog, and (since the jars aren't in this sandbox) the parquet-only
    helpers refuse loudly instead of silently falling back."""
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_CATALOG", "my_cat")
    assert tables._iceberg_table("/data/idx-2026.q1", "postings") == "my_cat.idx_2026_q1.postings"
    with pytest.raises(NotImplementedError):
        tables.table_exists("/data/idx", "postings")
    # read goes through the catalog — absent jars/catalog surface as an
    # AnalysisException, never a silent parquet fallback
    with pytest.raises(Exception) as ei:
        read_table(spark, "/data/idx", "postings").collect()
    assert "my_cat" in str(ei.value)


def test_commit_row_group_bytes_sets_parquet_blocks(spark, tmp_path):
    """row_group_bytes controls parquet.block.size: small groups => many row
    groups per file => row-group pruning granularity for pushed predicates."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    root = str(tmp_path / "root")
    os.makedirs(root)
    df = spark.range(400_000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    ).coalesce(1)
    commit(df, root, "small_groups", sort_by=["k"], row_group_bytes=1 << 18)
    commit(df, root, "one_group", sort_by=["k"])
    def n_groups(name):
        d = os.path.join(root, name)
        fs = [f for f in os.listdir(d) if f.endswith(".parquet")]
        return sum(pq.ParquetFile(os.path.join(d, f)).num_row_groups for f in fs)
    assert n_groups("small_groups") > n_groups("one_group")
