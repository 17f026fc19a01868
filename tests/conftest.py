from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from abstracts_search_spark.session import build_spark
from abstracts_search_spark.sources.transcripts import gen_transcripts


@pytest.fixture(scope="session")
def spark():
    s = build_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("transcripts") / "tiny")
    gen_transcripts(d, scale="tiny", seed=42)
    return d


@pytest.fixture(scope="session")
def small_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("transcripts") / "small")
    gen_transcripts(d, scale="small", seed=42)
    return d


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_dir):
    from abstracts_search_spark.sources.transcripts import load_transcripts

    return load_transcripts(spark, tiny_dir).cache()


@pytest.fixture(scope="session")
def small_df(spark, small_dir):
    from abstracts_search_spark.sources.transcripts import load_transcripts

    return load_transcripts(spark, small_dir).cache()


@pytest.fixture(scope="session")
def job_count(spark):
    """-> count(fn): the number of Spark jobs ``fn()`` runs, read from the
    status tracker by job group. A sentinel job in a second group runs
    after ``fn``; the listener bus is ordered, so once the sentinel is
    visible every job of ``fn`` is too."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(fn) -> int:
        group = f"jobcount-{time.time_ns()}"
        sc.setJobGroup(group, "job count probe")
        try:
            fn()
            sc.setJobGroup(group + "-sentinel", "job count sentinel")
            sc.parallelize([0], 1).count()
        finally:
            sc._jsc.clearJobGroup()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup(group + "-sentinel"):
            assert time.time() < deadline, "sentinel job never reached the status tracker"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def greedy_count():
    """-> count(tokens, phrase_tokens): the independent phrase reference, a
    greedy left-to-right non-overlapping scan in token space."""

    def count(toks: list[str], phrase: list[str]) -> int:
        n, j, width = 0, 0, len(phrase)
        while j + width <= len(toks):
            if toks[j : j + width] == phrase:
                n += 1
                j += width
            else:
                j += 1
        return n

    return count
