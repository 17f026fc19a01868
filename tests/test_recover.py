"""`make recover` property (reference Makefile:98-101): postings generations
+ docmap + lineage are the complete checkpoint — every derived artifact
(dictionary, stats, params) can be destroyed and rebuilt from them."""

import os
import shutil

import pytest

from abstracts_search_spark.plans.build import build_index, merge_index
from abstracts_search_spark.plans.query import IndexReader


def test_derived_artifacts_rebuild(spark, small_dir, tmp_path):
    ix = str(tmp_path / "ix")
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64, max_parts=3)
    build_index(spark, small_dir, ix, buckets=8, shard_docs=64)  # → gen=1
    before = IndexReader(spark, ix)
    want = [
        (r["conv_id"], round(r["score"], 9))
        for r in before.query("index merge spark", k=10).collect()
    ]
    n_docs, avgdl = before.n_docs, before.avgdl

    # crash-during-merge scenario: every derived artifact lost
    for sub in ("dictionary", "stats", "params.json"):
        p = os.path.join(ix, sub)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    # recovery must RE-STATE the tokenizer contract (params.json is gone and
    # the tokenizer is not derivable from the postings): calling without it
    # refuses loudly instead of silently assuming ascii
    with pytest.raises(ValueError, match="tokenizer"):
        merge_index(spark, ix, buckets=8, shard_docs=64)
    merge_index(spark, ix, buckets=8, shard_docs=64, tokenizer="ascii")
    after = IndexReader(spark, ix)
    assert after.n_docs == n_docs and abs(after.avgdl - avgdl) < 1e-12
    assert sorted(os.listdir(os.path.join(ix, "dictionary"))) == ["gen=0", "gen=1"]
    got = [
        (r["conv_id"], round(r["score"], 9))
        for r in after.query("index merge spark", k=10).collect()
    ]
    assert got == want
