"""Round-5 closures: the index format gate, the sized /
incremental / GEMM-scored ANN index, the multi-probe tune sweep, and the
Unicode tokenizer variant (r4-verdict items 1, 3, 5, 6)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------- format gate ----


def test_format_gate_refuses_older_index(spark, tiny_dir, tmp_path):
    """An index stamped with another INDEX_FORMAT (here: 5, which still had a
    segments table and replay markers) is refused with a re-ingest message
    at build, merge and reader attach — before anything is written."""
    from abstracts_search_spark.plans.build import INDEX_FORMAT, build_index, merge_index
    from abstracts_search_spark.plans.query import IndexReader

    ix = str(tmp_path / "ix")
    build_index(spark, tiny_dir, ix, max_parts=1)
    path = os.path.join(ix, "params.json")
    with open(path) as f:
        params = json.load(f)
    assert params["format"] == INDEX_FORMAT
    params["format"] = 5
    with open(path, "w") as f:
        json.dump(params, f)
    listing = sorted(os.walk(ix))

    with pytest.raises(ValueError, match="format 5.*re-ingest"):
        build_index(spark, tiny_dir, ix)
    with pytest.raises(ValueError, match="format 5.*re-ingest"):
        merge_index(spark, ix)
    with pytest.raises(ValueError, match="format 5.*re-ingest"):
        IndexReader(spark, ix)
    assert sorted(os.walk(ix)) == listing


def test_append_to_pre_format5_segments_refused(spark, tiny_dir, tmp_path):
    """Appending to an index whose segments files lack pos_bin (written
    before INDEX_FORMAT=5) would mix layouts in one index — both append
    paths (a batch sync and a stream epoch) refuse it with a re-ingest
    message before they write anything."""
    import shutil

    from abstracts_search_spark.plans.build import build_index
    from abstracts_search_spark.sources.tables import read_table
    from abstracts_search_spark.streaming.incremental import stream_build

    ix = str(tmp_path / "ix")
    build_index(spark, tiny_dir, ix, max_parts=1)
    # the older layout: a segments table without the positional columns
    seg = read_table(spark, ix, "postings").drop("pos_bin", "pos_offs", "gen")
    seg.write.parquet(os.path.join(ix, "segments"))
    shutil.rmtree(os.path.join(ix, "postings"))
    path = os.path.join(ix, "params.json")
    with open(path) as f:
        params = json.load(f)
    params["format"] = 4
    with open(path, "w") as f:
        json.dump(params, f)
    listing = sorted(os.walk(ix))

    with pytest.raises(ValueError, match="format 4.*re-ingest"):
        build_index(spark, tiny_dir, ix, max_parts=2, skip_merge=True)
    with pytest.raises(ValueError, match="format 4.*re-ingest"):
        stream_build(spark, tiny_dir, ix)
    assert sorted(os.walk(ix)) == listing


# ----------------------------------------------------------- sized ANN ----


def test_auto_n_planes_reference_geometry():
    from abstracts_search_spark.operators.similarity import auto_n_planes

    # the reference trains 65,536 IVF lists over ~10^8 abstracts
    assert auto_n_planes(100_000_000) == 16
    assert auto_n_planes(10**11) == 16  # clamped at the reference geometry
    assert auto_n_planes(500) == 4  # fixture scale stays probeable
    assert auto_n_planes(0) == 4
    assert auto_n_planes(1536 * 256) == 8


def test_hamming_probe_order():
    from abstracts_search_spark.operators.similarity import hamming_probe_order

    order = hamming_probe_order(0b101, 4, 2)
    assert order[0] == 0b101  # distance 0 first
    # distance levels are contiguous and sorted within a level
    d1 = order[1:5]
    assert d1 == sorted(0b101 ^ (1 << i) for i in range(4))
    assert len(order) == 1 + 4 + 6  # C(4,0)+C(4,1)+C(4,2)
    assert len(set(order)) == len(order)
    assert hamming_probe_order(0b101, 4, 2, max_probes=3) == order[:3]
    # full radius enumerates every bucket exactly once
    assert sorted(hamming_probe_order(7, 4, 4)) == list(range(16))


def _rand_emb(spark, n=400, dim=32, seed=11):
    rng = np.random.default_rng(seed)
    vecs = [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in range(n)]
    return spark.createDataFrame(vecs, "vec_id long, embedding array<float>"), vecs


def test_ann_probe_plan_has_no_hof_scoring(spark, tmp_path):
    """r4-verdict item 1: the probe's candidate scoring is a mapInPandas GEMM
    — no interpreted aggregate/zip_with fold anywhere in the plan, and the
    scan still prunes to the probed buckets' partitions."""
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
    )

    emb, vecs = _rand_emb(spark)
    out = str(tmp_path / "ann")
    build_ann_index(emb, out, n_planes=8)
    df = AnnIndexReader(spark, out).topk(vecs[3][1], k=10)
    plan = df._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==", 1)[1]
    assert "aggregate(" not in phys and "zip_with" not in phys
    assert "MapInPandas" in phys or "mapInPandas" in phys.lower()
    scan = next(
        seg
        for seg in phys.split("FileScan parquet")[1:]
        if "embedding" in seg.split("\n")[0]
    )
    head = scan.split("ReadSchema", 1)[0]
    assert "PartitionFilters" in head
    # two-level pruning: bgroup dirs (PartitionFilters) + pushed bucket
    # predicate (row-group stats within bucket-sorted files)
    assert "bgroup" in head.split("PartitionFilters", 1)[1][:300]
    assert "bucket" in scan.split("PushedFilters", 1)[1][:300]


def test_ann_sized_16_plane_probe(spark, tmp_path):
    """The reference's 65,536-bucket geometry is reachable and probes in
    Hamming order: self-bucket first, max_probes truncates (the nprobe knob)."""
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
    )

    emb, vecs = _rand_emb(spark, n=200, dim=32, seed=3)
    out = str(tmp_path / "ann16")
    build_ann_index(emb, out, n_planes=16)
    q = vecs[5][1]
    got = {r["vec_id"] for r in AnnIndexReader(spark, out).topk(q, k=5, probe_hamming=1).collect()}
    assert 5 in got  # a vector always lands in (and is probed from) its own bucket
    with open(os.path.join(out, "ann_params.json")) as f:
        assert json.load(f)["n_planes"] == 16


# ----------------------------------------------------- incremental ANN ----


def test_ann_sync_incremental_equals_oneshot(spark, tmp_path):
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )

    emb, vecs = _rand_emb(spark, n=400)
    first = emb.filter(F.col("vec_id") < 200)
    second = emb.filter(F.col("vec_id") >= 200)
    inc = str(tmp_path / "inc")
    one = str(tmp_path / "one")
    build_ann_index(first, inc, n_planes=6)
    assert sync_ann_index(second, inc, src_tag="batch2") is True
    build_ann_index(emb, one, n_planes=6)
    q = vecs[250][1]
    got = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, inc).topk(q, k=10, probe_hamming=1).collect()]
    want = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, one).topk(q, k=10, probe_hamming=1).collect()]
    assert got == want and len(got) > 0
    # replaying an already-committed batch is a no-op
    assert sync_ann_index(second, inc, src_tag="batch2") is False
    assert got == [
        (r["vec_id"], r["cos"])
        for r in AnnIndexReader(spark, inc).topk(q, k=10, probe_hamming=1).collect()
    ]


def test_ann_sync_crash_replay(spark, tmp_path):
    """Crash between the vectors append and the ann_params marker: the retry
    scrubs the unmarked generation and converges (same contract as the doc
    index's postings-generation scrub)."""
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )
    from abstracts_search_spark.sources import tables

    emb, vecs = _rand_emb(spark, n=300, seed=9)
    first = emb.filter(F.col("vec_id") < 150)
    second = emb.filter(F.col("vec_id") >= 150)
    inc = str(tmp_path / "inc")
    one = str(tmp_path / "one")
    build_ann_index(first, inc, n_planes=6)
    tables._FAIL_AFTER = "vectors"
    try:
        with pytest.raises(tables.InjectedCrash):
            sync_ann_index(second, inc, src_tag="b2")
    finally:
        tables._FAIL_AFTER = None
    # marker not written -> tag still pending -> rerun re-appends cleanly
    assert sync_ann_index(second, inc, src_tag="b2") is True
    build_ann_index(emb, one, n_planes=6)
    q = vecs[200][1]
    got = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, inc).topk(q, k=10, probe_hamming=1).collect()]
    want = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, one).topk(q, k=10, probe_hamming=1).collect()]
    assert got == want and len(got) > 0


# ------------------------------------------------------- multi-probe tune ----


def test_tune_ann_sweep_and_default(spark, tmp_path):
    from abstracts_search_spark.operators import vecindex
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        cosine_topk,
    )
    from abstracts_search_spark.sources.tables import read_table

    emb, vecs = _rand_emb(spark, n=250, dim=16, seed=21)
    out = str(tmp_path / "ann")
    build_ann_index(emb, out, n_planes=5)
    params = vecindex.tune(AnnIndexReader(spark, out), n_queries=4, k=5)
    sweep = params["tune_recall_at_k"]["sweep"]
    chosen = params["probe_hamming"]
    # the sweep terminates at recall 1.0 (radius n_planes IS brute force)
    assert sweep[str(chosen)] == 1.0
    assert all(
        sweep[str(h)] <= 1.0 for h in range(chosen)
    )  # recorded radii below the chosen one
    # the tuned radius is the reader's default: recall@5 = 1.0 on the fixture
    vectors = read_table(spark, out, "vectors")
    for r in vectors.select("vec_id", "embedding").orderBy("vec_id").limit(4).collect():
        qv = [float(x) for x in r["embedding"]]
        got = {row["vec_id"] for row in AnnIndexReader(spark, out).topk(qv, k=5).collect()}
        want = {row["vec_id"] for row in cosine_topk(vectors, qv, k=5).collect()}
        assert got == want


# ------------------------------------------------ unicode tokenizer ----


MIXED_DOCS = [
    (0, "Привет мир! Ёлка и ёжик встретились 42 раза"),
    (1, "Grüße aus München — naïve café №7 im Überblick"),
    (2, "日本語のテキスト 中文文本 and English mixed 2024"),
    (3, "ελληνικά κείμενα για δοκιμή μηχανής αναζήτησης"),
    (4, "журнал ŁÓDŹ und die Übersicht naïve мир café"),
    (5, "plain ascii text with words and numbers 77"),
    (6, "мир мир мир tokens повторяются для tf веса"),
]


def _duck_docs():
    import pandas as pd

    return pd.DataFrame(MIXED_DOCS, columns=["doc_id", "text"])


# beyond MIXED_DOCS: case variants in several scripts, and U+0130 İ — the one
# codepoint where the DuckDB oracle's simple case mapping differs
CASE_DOCS = ["Мир МИР мир Spark SPARK spark Café CAFÉ", "İstanbul ISTANBUL istanbul"]


@pytest.mark.parametrize("name", ["ascii", "unicode"])
def test_tokenizer_streams_equal(spark, name):
    """Per variant, on the mixed-script fixture: TokenizerSpec.tokens ≡ its
    batch pass expanded back per document ≡ Spark Catalyst (tokens_expr,
    doclen_expr) ≡ DuckDB RE2 (duckdb_sql; İ excluded for unicode, as
    documented in functions/tokenize.py)."""
    import duckdb

    from abstracts_search_spark.functions.tokenize import (
        doclen_expr,
        get_tokenizer,
        tokens_expr,
    )

    spec = get_tokenizer(name)
    texts = [t for _, t in MIXED_DOCS] + CASE_DOCS
    py = [spec.tokens(t) for t in texts]

    lens, codes, terms = spec.batch(texts)
    flat = terms[codes].tolist()
    bounds = np.concatenate([[0], np.cumsum(lens)])
    assert [flat[a:b] for a, b in zip(bounds[:-1], bounds[1:])] == py
    # the codes are re-keyed onto distinct lowered terms, so every case
    # variant (CASE_DOCS) of a term carries that term's one code
    assert len(set(terms.tolist())) == terms.shape[0]
    assert sorted(terms.tolist()) == sorted({t for toks in py for t in toks})

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        tokens_expr("text", tokenizer=name).alias("toks"),
        doclen_expr("text", tokenizer=name).alias("n"),
    ).collect()
    assert [list(r["toks"]) for r in rows] == py
    assert [r["n"] for r in rows] == lens.tolist()

    sql = spec.duckdb_sql.format(col="?")
    con = duckdb.connect()
    duck = [(t, p) for t, p in zip(texts, py) if name == "ascii" or "İ" not in t]
    assert [con.execute(f"SELECT {sql}", [t]).fetchone()[0] for t, _ in duck] == [
        p for _, p in duck
    ]
    if name == "unicode":
        assert any("мир" in toks for toks in py)  # non-Latin text actually tokenized


def test_unicode_index_bm25_matches_duckdb_oracle(spark, tmp_path):
    """An index built with tokenizer='unicode' answers a Cyrillic BM25 query
    identically to the DuckDB oracle running the unicode SQL template —
    the CORRECTNESS-style gate for the variant (r4-verdict item 3)."""
    import duckdb

    from abstracts_search_spark import B_BM25, K1
    from abstracts_search_spark.functions.tokenize import get_tokenizer
    from abstracts_search_spark.plans.build import build_doc_index
    from abstracts_search_spark.plans.query import IndexReader
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(MIXED_DOCS, "doc_id long, text string")
    ix = str(tmp_path / "uix")
    build_doc_index(docs, ix, buckets=4, shard_docs=8, tokenizer="unicode")
    with open(os.path.join(ix, "params.json")) as f:
        assert json.load(f)["tokenizer"] == "unicode"
    reader = IndexReader(spark, ix)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in reader.query("мир café", k=5).collect()
    ]

    tok = get_tokenizer("unicode").duckdb_sql.format(col="text")
    con = duckdb.connect()
    con.register("documents", _duck_docs())
    want = con.execute(f"""
WITH toks AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl),
q(term) AS (VALUES ('мир'), ('café')),
dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
              * tf.tf * {K1 + 1.0} / (tf.tf + {K1} * ({1.0 - B_BM25} + {B_BM25} * dl.doclen / s.avgdl)) ) AS score
  FROM tf JOIN dfq ON tf.term = dfq.term JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 5
""").fetchall()
    assert got == [(int(d), float(s)) for d, s in want] and len(got) > 0

    # phrase queries ride the same contract (positions default on)
    hits = reader.phrase_query("мир мир", k=5).collect()
    assert [(r["doc_id"], r["n_hits"]) for r in hits] == [(6, 1)]

    # an ascii-tokenized query against the same corpus would have dropped
    # the Cyrillic term entirely — prove the reader used the index contract
    assert any(d == 6 for d, _ in got)


def test_tokenizer_contract_gates(spark, tiny_dir, tmp_path):
    from abstracts_search_spark.plans.build import build_doc_index, build_index

    with pytest.raises(ValueError, match="unknown tokenizer"):
        build_doc_index(
            spark.createDataFrame([(0, "x")], "doc_id long, text string"),
            str(tmp_path / "bad"),
            tokenizer="nope",
        )
    ix = str(tmp_path / "ix")
    build_index(spark, tiny_dir, ix, max_parts=1)  # merge writes the contract
    with pytest.raises(ValueError, match="tokenizer='ascii'"):
        build_index(spark, tiny_dir, ix, max_parts=2, tokenizer="unicode")


def test_ascii_default_unchanged(spark, tmp_path):
    """The default build records tokenizer='ascii' and tokenizes exactly as
    before the registry existed (regression pin for every standing index)."""
    import inspect

    from abstracts_search_spark.functions.tokenize import get_tokenizer, tokens_expr
    from abstracts_search_spark.plans.build import build_doc_index, build_index

    for fn in (build_index, build_doc_index, tokens_expr):
        assert inspect.signature(fn).parameters["tokenizer"].default == "ascii"
    assert get_tokenizer("ascii").tokens("Ä мир Test-42") == ["test", "42"]


# --------------------------------------------------- AnnIndexReader ----


def test_ann_reader_batched_equals_per_query(spark, tmp_path):
    """topk_many = per-query topk, one job for the whole set (the ANN analog
    of IndexReader.query_many); single-query topk goes through the same
    path."""
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
    )

    emb, vecs = _rand_emb(spark, n=300, dim=24, seed=13)
    out = str(tmp_path / "ann")
    build_ann_index(emb, out, n_planes=6)
    reader = AnnIndexReader(spark, out)
    queries = {7: vecs[7][1], 42: vecs[42][1], 99: vecs[99][1]}
    many = reader.topk_many(queries, k=8, probe_hamming=1).collect()
    assert len(many) > 0
    by_q: dict[int, list] = {}
    for r in many:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    for qid, qv in queries.items():
        single = [
            (i + 1, r["vec_id"], r["cos"])
            for i, r in enumerate(
                AnnIndexReader(spark, out).topk(qv, k=8, probe_hamming=1).collect()
            )
        ]
        assert sorted(by_q.get(qid, [])) == single


def test_ann_reader_refreshes_after_sync(spark, tmp_path):
    """A long-lived reader must see generations appended by sync_ann_index
    (same staleness protocol as IndexReader: stat ann_params.json)."""
    import time

    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )

    emb, vecs = _rand_emb(spark, n=200, dim=16, seed=31)
    first = emb.filter(F.col("vec_id") < 100)
    second = emb.filter(F.col("vec_id") >= 100)
    out = str(tmp_path / "ann")
    build_ann_index(first, out, n_planes=4)
    reader = AnnIndexReader(spark, out)
    q = vecs[150][1]  # belongs to the second batch
    before = {r["vec_id"] for r in reader.topk(q, k=5, probe_hamming=4).collect()}
    assert 150 not in before
    time.sleep(0.01)  # ensure a distinct mtime_ns for the params rewrite
    sync_ann_index(second, out, src_tag="b2")
    after = {r["vec_id"] for r in reader.topk(q, k=5, probe_hamming=4).collect()}
    assert 150 in after  # radius 4 of 4 planes probes every bucket


# -------------------------------------------------------- ANN via CLI ----


def test_cli_ann_build_sync_query(tmp_path):
    """The ANN surface end-to-end from the command line (foreign cwd,
    separate JVMs): build -> sync a second batch -> probe -> info; the
    probed nearest neighbor of a synced vector's own query is itself
    (cos 1.0)."""
    import subprocess
    import sys

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rng = np.random.default_rng(17)

    def write_emb(path, ids):
        tbl = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [rng.standard_normal(16).astype("float32") for _ in ids],
                    pa.list_(pa.float32()),
                ),
            }
        )
        pq.write_table(tbl, path)

    e1 = str(tmp_path / "e1.parquet")
    e2 = str(tmp_path / "e2.parquet")
    ix = str(tmp_path / "ann")
    write_emb(e1, list(range(60)))
    write_emb(e2, list(range(60, 120)))

    def cli(*argv):
        return subprocess.run(
            [sys.executable, os.path.join(repo, "abstracts_search_spark", "cli.py"), *argv],
            capture_output=True, text=True, cwd=str(tmp_path),
            env=dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_CPUS="4"),
            check=True, timeout=300,
        ).stdout.strip().splitlines()

    params = json.loads(cli("ann-build", "--embeddings", e1, "--index", ix,
                            "--planes", "4")[-1])
    assert params["n_planes"] == 4 and params["format"] >= 4
    synced = json.loads(cli("ann-sync", "--embeddings", e2, "--index", ix,
                            "--tag", "b2")[-1])
    assert synced["appended"] is True
    got = [json.loads(l) for l in cli("ann-query", "--index", ix,
                                      "--embeddings", e2, "--vec-id", "100",
                                      "-k", "3", "--probe-hamming", "1")]
    assert got and got[0]["vec_id"] == 100 and got[0]["cos"] == 1.0
    # occupancy counts every one of the 2^4 buckets, the empty ones included
    from abstracts_search_spark.operators.similarity import hyperplanes

    m = np.concatenate([np.stack(pq.read_table(e).column("embedding").to_pylist())
                        for e in (e1, e2)]).astype(np.float64)
    occupied = len(set(((m @ hyperplanes(16, 4, 42).T >= 0) @ (1 << np.arange(4))).tolist()))
    info = json.loads(cli("ann-info", "--index", ix)[-1])
    assert (info["cells"], info["vectors"], info["empty"]) == (16, 120, 16 - occupied)
