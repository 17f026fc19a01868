"""Self-tests of the correctness checks: each check must accept the oracle's
own answer and reject it once corrupted (two ranks swapped, a score off by
1e-3, a row dropped, a synced vector missing).

    python3 perfbench/selftest.py

``run.py`` also runs them at the end of every run.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

K = 10
_TINY = gen.TextSpec(
    convs_per_part=40, convs_per_sync=0, max_turns=6, zipf_terms=300, zipf_s=1.07,
    rare_pool=500, rare_per_turn=1.0, parts_initial=1, parts_sync=0, n_queries=0,
)


def _swap(rows, i=0, j=1):
    rows = list(rows)
    rows[i], rows[j] = rows[j], rows[i]
    return rows


def _shift(rows, i=0, by=1e-3):
    rows = list(rows)
    rows[i] = (rows[i][0], rows[i][1] + by)
    return rows


def _corruptions(rows):
    """The corrupted variants every check must reject."""
    out = {"score off by 1e-3": _shift(rows), "row dropped": rows[:-1]}
    if rows[0][1] != rows[1][1]:
        out["two ranks swapped"] = _swap(rows)
    return out


def _expect(name: str, errs: list[str], should_fail: bool) -> list[str]:
    if bool(errs) != should_fail:
        want = "reject" if should_fail else "accept"
        return [f"selftest {name}: check did not {want} ({errs[:1]})"]
    return []


def bm25_and_ingest(tmp: str) -> list[str]:
    vocab = gen._vocab(_TINY)
    path = os.path.join(tmp, "part.parquet")
    pq.write_table(gen._partition(_TINY, 7, 0, vocab, gen._zipf_weights(len(vocab), 1.07)), path)
    queries = ["user assistant", "the data w00010", "scan"]
    expected = checks.bm25_expected([path], queries, K)
    failures, swaps = [], 0
    for q, exp in zip(queries, expected):
        good = exp[:K]
        failures += _expect(f"bm25 {q!r} exact", checks.compare_topk(good, exp, K, checks.SCORE_TOL), False)
        for what, bad in _corruptions(good).items():
            swaps += what == "two ranks swapped"
            failures += _expect(f"bm25 {q!r} {what}", checks.compare_topk(bad, exp, K, checks.SCORE_TOL), True)
    if not swaps:
        failures.append("selftest bm25: no query had two distinct top scores to swap")
    want = checks.expected_counts([path])
    got = {"lineage_n_turns": want["n_turns"], "docmap_rows": want["n_docs"], "stats_n_docs": want["n_docs"]}
    failures += _expect("ingest exact", checks.check_ingest(got, want), False)
    failures += _expect("ingest row dropped", checks.check_ingest({**got, "docmap_rows": want["n_docs"] - 1}, want), True)
    return failures


def vectors() -> list[str]:
    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 8)).astype(np.float32)
    synced = rng.standard_normal((20, 8)).astype(np.float32)
    o = checks.VectorOracle()
    o.add(np.arange(300), base)
    o.add(np.arange(300, 320), synced)
    n = o.snapshot()
    q = rng.standard_normal(8)
    exact = o.exact_topk(q, n, K)
    good = exact[:K]
    failures = _expect("exhaustive exact", checks.check_exhaustive(good, exact, K), False)
    failures += _expect("cosine exact", o.check_rows(q, n, good), False)
    for what, bad in _corruptions(good).items():
        failures += _expect(f"exhaustive {what}", checks.check_exhaustive(bad, exact, K), True)
    failures += _expect("cosine off by 1e-3", o.check_rows(q, n, _shift(good)), True)
    own = o.exact_topk(synced[0], n, K)
    failures += _expect("self-first exact", checks.check_self_first(300, own), False)
    failures += _expect("self-first synced vector missing", checks.check_self_first(300, own[1:]), True)
    # a probe answered before the sync must not contain synced vectors
    failures += _expect("cosine vector not yet indexed", o.check_rows(synced[0], 300, own[:1]), True)
    return failures


def run_all(tmp_root: str | None = None) -> list[str]:
    with tempfile.TemporaryDirectory(dir=tmp_root) as tmp:
        return bm25_and_ingest(tmp) + vectors()


if __name__ == "__main__":
    errs = run_all()
    for e in errs:
        print(e)
    print("selftest:", "FAILED" if errs else "ok")
    sys.exit(1 if errs else 0)
