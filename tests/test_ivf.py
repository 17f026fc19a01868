"""IVF k-means index: distributed training ≡ single-node numpy reference
(bit-identical under the round-6 contract), full-probe ≡ brute cosine,
persisted index probe, empty-list survival, reader staleness."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from abstracts_search_spark.operators import vecindex
from abstracts_search_spark.operators.ivf import (
    IvfIndexReader,
    assign_ids,
    auto_n_lists,
    build_ivf_index,
    init_centroids,
    probe_lists,
    train_kmeans,
)
from abstracts_search_spark.operators.similarity import cosine_topk

SF = "/root/testdata/sf0.001/embeddings.parquet"


def _emb(spark):
    return spark.read.parquet(SF)


def _mat(spark):
    rows = _emb(spark).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.array(
        [[float(x) for x in r["embedding"]] for r in rows], dtype=np.float64
    )
    return ids, m


def _kmeans_numpy(ids: np.ndarray, m: np.ndarray, n_lists: int, iters: int):
    """Single-node reference under the identical determinism contract:
    init = n_lists lowest-id vectors rounded to 6; per iteration, argmin over
    round(d²,6) then round-6 per-dim mean; empty lists keep centroids."""
    order = np.argsort(ids)
    cents = np.round(m[order[:n_lists]], 6)
    for _ in range(iters):
        cl = assign_ids(m, cents)
        nxt = cents.copy()
        for c in range(n_lists):
            mask = cl == c
            if mask.any():
                nxt[c] = np.round(m[mask].sum(axis=0) / mask.sum(), 6)
        cents = nxt
    return cents


def test_train_matches_numpy_reference(spark):
    ids, m = _mat(spark)
    want = _kmeans_numpy(ids, m, n_lists=8, iters=3)
    got = train_kmeans(_emb(spark), n_lists=8, iters=3)
    assert got.shape == want.shape
    assert np.array_equal(got, want)  # bit-identical under the round-6 contract


def test_train_deterministic(spark):
    a = train_kmeans(_emb(spark), n_lists=6, iters=2)
    b = train_kmeans(_emb(spark), n_lists=6, iters=2)
    assert np.array_equal(a, b)


def test_init_centroids_rounded_lowest_ids(spark):
    ids, m = _mat(spark)
    c = init_centroids(_emb(spark), 4)
    assert np.array_equal(c, np.round(m[np.argsort(ids)[:4]], 6))


def test_full_probe_equals_brute(spark, tmp_path):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2)
    row = emb.filter(F.col("vec_id") == 3).first()
    q = [float(x) for x in row["embedding"]]
    # probing every list is brute force — identical rows in identical order
    got = [(r["vec_id"], r["cos"]) for r in IvfIndexReader(spark, out).topk(q, k=10, nprobe=8).collect()]
    want = [(r["vec_id"], r["cos"]) for r in cosine_topk(emb, q, k=10).collect()]
    assert got == want and len(got) == 10


def test_probe_finds_self_and_prunes(spark, tmp_path):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2, nprobe=2)
    r = IvfIndexReader(spark, out)
    row = emb.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row["embedding"]]
    top = r.topk(q, k=5).collect()
    # the query IS vector 0: its own cell is the nearest probe, cos(self)=1
    assert top[0]["vec_id"] == 0 and top[0]["cos"] == 1.0
    # nprobe=1 scans strictly fewer candidates than the full index
    probe = probe_lists(q, r.centroids, 1)
    n_cand = r.vectors.filter(F.col("list").isin(probe)).count()
    assert 0 < n_cand < r.vectors.count()


def test_assignments_cover_corpus(spark, tmp_path):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2)
    r = IvfIndexReader(spark, out)
    asg = r.assignments()
    assert asg.count() == emb.count()
    lists = {x["list_id"] for x in asg.select("list_id").distinct().collect()}
    assert lists <= set(range(8)) and len(lists) > 1


def test_empty_lists_survive(spark):
    # duplicate points seed duplicate centroids; ties assign to the LOWEST
    # list id, so lists 1 and 3 go empty and must keep their init centroids
    # (no NaN from a 0-count division)
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0]), (3, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    cents = train_kmeans(emb, n_lists=4, iters=2)
    assert cents.shape == (4, 2)
    assert np.isfinite(cents).all()
    assert np.array_equal(cents[1], [0.0, 0.0])  # empty list kept its seed
    assert np.array_equal(cents[3], [10.0, 10.0])
    cl = assign_ids(np.array([[0.0, 0.0], [10.0, 10.0]]), cents)
    assert cl[0] == 0 and cl[1] == 2  # ties resolve to the lowest list id


def test_reader_staleness_reattach(spark, tmp_path):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=4, iters=1)
    r = IvfIndexReader(spark, out)
    assert r.params["n_lists"] == 4
    build_ivf_index(emb, out, n_lists=8, iters=1)  # rewrites ivf_params.json
    row = emb.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row["embedding"]]
    top = r.topk(q, k=3).collect()  # must re-attach, not probe stale handles
    assert r.params["n_lists"] == 8 and len(top) == 3


def test_ivf_probe_plan_prunes_and_gemm_scores(spark, tmp_path):
    """Same plan contract as the ANN probe (r4-verdict item 1): candidate
    scoring is a mapInPandas GEMM (no interpreted HOF fold), and the vectors
    scan prunes two-level — lgroup dirs (PartitionFilters) + pushed list
    predicate (row-group stats within list-sorted files)."""
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=1)
    row = emb.filter(F.col("vec_id") == 2).first()
    q = [float(x) for x in row["embedding"]]
    df = IvfIndexReader(spark, out).topk(q, k=10, nprobe=2)
    phys = df._jdf.queryExecution().toString().split("== Physical Plan ==", 1)[1]
    assert "aggregate(" not in phys and "zip_with" not in phys
    assert "mapinpandas" in phys.lower()
    scan = next(
        seg
        for seg in phys.split("FileScan parquet")[1:]
        if "embedding" in seg.split("\n")[0]
    )
    head = scan.split("ReadSchema", 1)[0]
    assert "PartitionFilters" in head
    assert "lgroup" in head.split("PartitionFilters", 1)[1][:300]
    assert "list" in scan.split("PushedFilters", 1)[1][:300]


def test_sync_appends_generation(spark, tmp_path):
    """Incremental fill: new vectors append as gen=1 under the FIXED trained
    centroids; probes see both generations; a replayed tag is a no-op; a
    crash-orphaned generation (appended past the marker) is scrubbed."""
    import shutil

    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") < 400)
    second = emb.filter(F.col("vec_id") >= 400)
    out = str(tmp_path / "ivf")
    build_ivf_index(first, out, n_lists=8, iters=2)
    r = IvfIndexReader(spark, out)
    assert r.vectors.count() == 400

    assert sync_ivf_index(second, out, src_tag="batch2") is True
    row = emb.filter(F.col("vec_id") == 450).first()
    q = [float(x) for x in row["embedding"]]
    top = r.topk(q, k=3).collect()  # staleness re-attach must see gen=1
    assert top[0]["vec_id"] == 450 and top[0]["cos"] == 1.0
    assert r.vectors.count() == 500

    # replay of a committed tag: no-op, no double ingest
    assert sync_ivf_index(second, out, src_tag="batch2") is False
    assert IvfIndexReader(spark, out).vectors.count() == 500

    # crash window: a gen dir exists past the marker -> scrubbed on resync
    orphan = os.path.join(out, "vectors", "gen=2")
    shutil.copytree(os.path.join(out, "vectors", "gen=1"), orphan)
    assert sync_ivf_index(second.limit(10), out, src_tag="batch3") is True
    counts = {
        row["gen"]: row["n"]
        for row in IvfIndexReader(spark, out)
        .vectors.groupBy("gen")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {0: 400, 1: 100, 2: 10}


def test_compaction_folds_generations(spark, tmp_path):
    """build + 2 syncs = 3 generations; compaction folds to ONE gen=0 with
    identical rows/cells, probes return identical results, folded tags still
    no-op on replay, and a fresh sync appends cleanly as gen=1."""
    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 300), out, n_lists=8, iters=2)
    sync_ivf_index(emb.filter(F.col("vec_id").between(300, 399)), out, src_tag="b2")
    sync_ivf_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b3")
    row = emb.filter(F.col("vec_id") == 450).first()
    q = [float(x) for x in row["embedding"]]
    before = [(r["vec_id"], r["cos"]) for r in IvfIndexReader(spark, out).topk(q, k=5).collect()]
    asg_before = sorted(
        (r["vec_id"], r["list_id"])
        for r in IvfIndexReader(spark, out).assignments().collect()
    )

    assert vecindex.compact_generations(spark, out, IvfIndexReader._spec) == 3
    r2 = IvfIndexReader(spark, out)
    gens = [x["gen"] for x in r2.vectors.select("gen").distinct().collect()]
    assert gens == [0]
    assert sorted((x["vec_id"], x["list_id"]) for x in r2.assignments().collect()) == asg_before
    assert [(x["vec_id"], x["cos"]) for x in r2.topk(q, k=5).collect()] == before
    # folded batches keep no-opping; a genuinely new batch lands as gen=1
    assert sync_ivf_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b3") is False
    assert vecindex.compact_generations(spark, out, IvfIndexReader._spec) == 0  # single gen: nothing to fold
    assert sync_ivf_index(emb.limit(5), out, src_tag="b4") is True
    # assignments() runs the staleness check, so the handle sees gen=1
    # (raw r2.vectors would still be the pre-sync snapshot by design)
    assert r2.assignments().count() == 505


def test_ann_compaction(spark, tmp_path):
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )

    emb = _emb(spark)
    out = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") < 400), out, n_planes=6)
    sync_ann_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b2")
    row = emb.filter(F.col("vec_id") == 470).first()
    q = [float(x) for x in row["embedding"]]
    before = [(r["vec_id"], r["cos"]) for r in AnnIndexReader(spark, out).topk(q, k=5).collect()]
    assert vecindex.compact_generations(spark, out, AnnIndexReader._spec) == 2
    r = AnnIndexReader(spark, out)
    assert [x["gen"] for x in r.vectors.select("gen").distinct().collect()] == [0]
    assert r.vectors.count() == 500
    assert [(x["vec_id"], x["cos"]) for x in r.topk(q, k=5).collect()] == before
    assert sync_ann_index(emb.limit(1), out, src_tag="b2") is False  # tag kept


def test_compact_scrubs_orphan_generation(spark, tmp_path):
    """A sync that crashed before its params rewrite leaves an orphan gen;
    compaction must scrub it (as a replayed sync would), NOT fold it into
    gen=0 — a folded orphan becomes permanent untracked rows whose tag
    replay then appends the same batch twice."""
    import shutil

    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 300), out, n_lists=4, iters=1)
    sync_ivf_index(emb.filter(F.col("vec_id").between(300, 399)), out, src_tag="b2")
    # simulate the crash window: gen=2 appended, params never updated
    shutil.copytree(os.path.join(out, "vectors", "gen=1"),
                    os.path.join(out, "vectors", "gen=2"))
    assert vecindex.compact_generations(spark, out, IvfIndexReader._spec) == 2
    r = IvfIndexReader(spark, out)
    assert r.assignments().count() == 400  # orphan scrubbed, not folded
    # the orphan's batch can now land exactly once
    assert sync_ivf_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b3")
    assert r.assignments().count() == 500


def test_ann_sync_dim_and_null_guards(spark, tmp_path):
    import pytest

    from abstracts_search_spark.operators.similarity import (
        build_ann_index,
        sync_ann_index,
    )

    emb = _emb(spark)
    out = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") < 400), out, n_planes=4)
    bad_dim = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimension 2 != index dimension 64"):
        sync_ann_index(bad_dim, out, src_tag="bad")
    null_vec = spark.createDataFrame(
        [(9998, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL embedding"):
        sync_ann_index(null_vec, out, src_tag="bad2")


def test_topk_many_equals_per_query(spark, tmp_path, job_count):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2)
    r = IvfIndexReader(spark, out)
    rows = emb.filter(F.col("vec_id").isin([0, 5, 11])).collect()
    queries = {int(x["vec_id"]): [float(v) for v in x["embedding"]] for x in rows}
    many = r.topk_many(queries, k=7, nprobe=2).collect()
    got = {}
    for x in many:
        got.setdefault(x["query_id"], []).append((x["rank"], x["vec_id"], x["cos"]))
    for qid, qv in queries.items():
        want = [
            (i + 1, x["vec_id"], x["cos"])
            for i, x in enumerate(r.topk(qv, k=7, nprobe=2).collect())
        ]
        assert sorted(got[qid]) == want
    assert r.topk_many({}, k=3).count() == 0
    assert job_count(lambda: r.topk_many({}, k=3).collect()) == 0


@pytest.mark.parametrize("kind", ["lsh", "ivf", "sq8", "sq8r"])
def test_single_topk_plan_and_equivalence(spark, tmp_path, kind):
    """Every reader kind answers one query through the same shape: a
    TakeOrderedAndProject over the GEMM scan — no per-query window and so
    no shuffle — with the rows topk_many ranks 1..k for that query."""
    from abstracts_search_spark.operators.similarity import AnnIndexReader, build_ann_index

    emb = _emb(spark)
    out = str(tmp_path / kind)
    if kind == "lsh":
        build_ann_index(emb, out, n_planes=6)
        r = AnnIndexReader(spark, out)
    else:
        build_ivf_index(emb, out, n_lists=8, iters=2,
                        quantize="none" if kind == "ivf" else kind)
        r = IvfIndexReader(spark, out)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 5).first()["embedding"]]
    df = r.topk(q, k=7)
    single = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Window" not in plan, plan
    assert len(single) == 7 and single[0]["vec_id"] == 5
    many = sorted(
        (x["rank"], x["vec_id"], x["cos"]) for x in r.topk_many({0: q}, k=7).collect()
    )
    assert many == [(i + 1, x["vec_id"], x["cos"]) for i, x in enumerate(single)]


def test_tune_ivf_records_recall(spark, tmp_path):
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2, nprobe=1)
    p = vecindex.tune(IvfIndexReader(spark, out), n_queries=4, k=5)
    sweep = p["tune_recall_at_k"]["sweep"]
    assert p["tune_recall_at_k"]["k"] == 5 and len(sweep) >= 1
    assert sweep[str(p["nprobe"])] == 1.0  # chosen width reaches full recall
    # the tuned nprobe becomes the reader's default (params rewritten on disk)
    r = IvfIndexReader(spark, out)
    assert r.params["nprobe"] == p["nprobe"]
    row = emb.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row["embedding"]]
    got = {x["vec_id"] for x in r.topk(q, k=5).collect()}
    want = {x["vec_id"] for x in cosine_topk(emb, q, k=5).collect()}
    assert got == want  # recall@5 = 1.0 at the tuned width on a sample query


def _dir_bytes(root, sub):
    total = 0
    for dirpath, _, files in os.walk(os.path.join(root, sub)):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def test_sq8_reconstruction_and_storage(spark, tmp_path):
    """SQ8 mode: codes decode to the documented reconstruction, scoring is
    asymmetric (raw query vs decoded candidates), the index's own vector is
    still the top hit, and the vectors table shrinks vs float32 storage."""
    from abstracts_search_spark.operators.ivf import sq8_decode, sq8_encode

    emb = _emb(spark)
    full = str(tmp_path / "full")
    q8 = str(tmp_path / "sq8")
    build_ivf_index(emb, full, n_lists=8, iters=1)
    build_ivf_index(emb, q8, n_lists=8, iters=1, quantize="sq8")

    r = IvfIndexReader(spark, q8)
    assert r.params["quantize"] == "sq8" and r.quant is not None
    qmin, qscale, residual = r.quant
    assert residual is False
    # codec roundtrip sanity on the real corpus matrix
    ids, m = _mat(spark)
    codes = sq8_encode(m, qmin, qscale)
    recon = sq8_decode(codes, qmin, qscale)
    assert np.abs(recon - m).max() <= np.where(qscale > 0, qscale, 0).max() * 0.5 + 1e-12

    row = _emb(spark).filter(F.col("vec_id") == 9).first()
    qv = [float(x) for x in row["embedding"]]
    top = r.topk(qv, k=5, nprobe=8).collect()
    assert top[0]["vec_id"] == 9  # self still wins under quantization…
    assert top[0]["cos"] < 1.0  # …but the reconstruction is not exact
    # full-probe SQ8 result == numpy oracle over the reconstructions
    order = np.argsort(ids)
    recon_s = recon[order]
    qv64 = np.asarray(qv, dtype=np.float64)
    cos = np.round(
        (recon_s @ qv64)
        / (np.linalg.norm(recon_s, axis=1) * np.linalg.norm(qv64)),
        6,
    )
    want_ids = ids[order][np.lexsort((ids[order], -cos))][:5]
    assert [t["vec_id"] for t in top] == [int(x) for x in want_ids]

    # the point of PQ-style storage: materially smaller vectors table
    assert _dir_bytes(q8, "vectors") < 0.6 * _dir_bytes(full, "vectors")


def test_sampled_training(spark, tmp_path):
    """train_sample_mod=m: centroids come from the deterministic 1/m sample
    (vec_id % m == 0) — the reference's RAM-sample training — while the fill
    still assigns EVERY vector."""
    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=8, iters=2, train_sample_mod=5)
    r = IvfIndexReader(spark, out)
    assert r.params["train_sample_mod"] == 5
    want = train_kmeans(emb.filter(F.col("vec_id") % 5 == 0), n_lists=8, iters=2)
    assert np.array_equal(r.centroids, want)
    assert r.assignments().count() == emb.count()  # fill covers the corpus
    # an out-of-sample vector still finds itself under a full probe
    row = emb.filter(F.col("vec_id") == 7).first()
    top = r.topk([float(x) for x in row["embedding"]], k=3, nprobe=8).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cos"] == 1.0


def test_sq8r_residual_coding(spark, tmp_path):
    """sq8r codes the residual x − centroid[cell] (FAISS IVF-PQ shape):
    reconstruction adds the centroid back; full-probe results equal a numpy
    reference computing the identical pipeline; sync encodes new batches
    with the stored residual quantizer."""
    from abstracts_search_spark.operators.ivf import (
        assign_ids,
        sq8_decode,
        sq8_encode,
        sync_ivf_index,
        train_kmeans,
    )

    emb = _emb(spark)
    out = str(tmp_path / "sq8r")
    build_ivf_index(emb, out, n_lists=8, iters=1, quantize="sq8r")
    p = vecindex.read_params(out, IvfIndexReader._spec)
    assert p["quantize"] == "sq8r"

    ids, m = _mat(spark)
    order = np.argsort(ids)
    ids_s, m_s = ids[order], m[order]
    cents = train_kmeans(emb, n_lists=8, iters=1)
    cl = assign_ids(m_s, cents)
    res = m_s - cents[cl]
    qmin = np.asarray(p["sq8_min"])
    qscale = np.asarray(p["sq8_scale"])
    # stored quantizer bounds == residual min/max (exact, order-independent)
    assert np.array_equal(qmin, res.min(axis=0))
    recon = cents[cl] + sq8_decode(sq8_encode(res, qmin, qscale), qmin, qscale)

    row = emb.filter(F.col("vec_id") == 5).first()
    qv = np.asarray([float(x) for x in row["embedding"]])
    r = IvfIndexReader(spark, out)
    got = [(x["vec_id"], x["cos"]) for x in r.topk(list(qv), k=5, nprobe=8).collect()]
    cos = np.round((recon @ qv) / (np.linalg.norm(recon, axis=1) * np.linalg.norm(qv)), 6)
    want_idx = np.lexsort((ids_s, -cos))[:5]
    assert got == [(int(ids_s[i]), float(cos[i])) for i in want_idx]
    assert got[0][0] == 5  # self still wins through residual codes

    # sync uses the FIXED residual quantizer and the probe sees the new gen
    extra = spark.createDataFrame(
        [(1000, [float(x) for x in qv])], "vec_id long, embedding array<double>"
    )
    assert sync_ivf_index(extra, out, src_tag="b2") is True
    top = r.topk(list(qv), k=2, nprobe=8).collect()
    assert {t["vec_id"] for t in top} == {5, 1000}  # identical vectors tie region
    # tune sweeps on reconstructions in residual mode too
    tp = vecindex.tune(IvfIndexReader(spark, out), n_queries=2, k=3)
    assert tp["tune_recall_at_k"]["sweep"][str(tp["nprobe"])] == 1.0


def test_sq8_sync_and_tune(spark, tmp_path):
    """Generations encode with the FIXED stored quantizer; tune sweeps on
    reconstructions (no embedding column needed)."""
    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    out = str(tmp_path / "sq8")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), out, n_lists=8,
                    iters=1, quantize="sq8")
    assert sync_ivf_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b2")
    r = IvfIndexReader(spark, out)
    assert r.vectors.count() == 500
    row = emb.filter(F.col("vec_id") == 450).first()
    top = r.topk([float(x) for x in row["embedding"]], k=3, nprobe=8).collect()
    assert top[0]["vec_id"] == 450
    p = vecindex.tune(IvfIndexReader(spark, out), n_queries=3, k=5)
    assert p["tune_recall_at_k"]["sweep"][str(p["nprobe"])] == 1.0


def test_cli_ivf_build_query(tmp_path):
    """The IVF surface end-to-end from the command line (foreign cwd,
    separate JVMs): train+build, then probe — a vector's own query must
    return itself first (cos 1.0) since its cell is the nearest probe."""
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rng = np.random.default_rng(23)
    emb_path = str(tmp_path / "emb.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(80)), pa.int64()),
                "embedding": pa.array(
                    [rng.standard_normal(16).astype("float32") for _ in range(80)],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        emb_path,
    )
    ix = str(tmp_path / "ivf")

    def cli(*argv):
        return subprocess.run(
            [sys.executable, os.path.join(repo, "abstracts_search_spark", "cli.py"), *argv],
            capture_output=True, text=True, cwd=str(tmp_path),
            env=dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_CPUS="4"),
            check=True, timeout=300,
        ).stdout.strip().splitlines()

    params = json.loads(cli("ivf-build", "--embeddings", emb_path, "--index", ix,
                            "--lists", "6", "--iters", "1")[-1])
    assert params["n_lists"] == 6 and params["format"] == 4
    got = [json.loads(line) for line in cli("ivf-query", "--index", ix,
                                            "--embeddings", emb_path,
                                            "--vec-id", "7", "-k", "3")]
    assert got and got[0]["vec_id"] == 7 and got[0]["cos"] == 1.0
    # incremental fill from the CLI: synced vectors are probeable
    emb2_path = str(tmp_path / "emb2.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(80, 120)), pa.int64()),
                "embedding": pa.array(
                    [rng.standard_normal(16).astype("float32") for _ in range(40)],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        emb2_path,
    )
    synced = json.loads(cli("ivf-sync", "--embeddings", emb2_path, "--index", ix,
                            "--tag", "b2")[-1])
    assert synced["appended"] is True
    got2 = [json.loads(line) for line in cli("ivf-query", "--index", ix,
                                             "--embeddings", emb2_path,
                                             "--vec-id", "100", "-k", "3")]
    assert got2 and got2[0]["vec_id"] == 100 and got2[0]["cos"] == 1.0


def test_empty_batch_does_not_consume_tag(spark, tmp_path):
    """A zero-row delivery must be a no-op (not a tag burn): the real data
    arriving later under the same content identity has to land."""
    from abstracts_search_spark.operators.ivf import sync_ivf_index
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )

    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), out, n_lists=4, iters=1)
    late = emb.filter(F.col("vec_id") >= 400)
    assert sync_ivf_index(late.limit(0), out, src_tag="d7") is False
    p = vecindex.read_params(out, IvfIndexReader._spec)
    assert "d7" not in p["merged_srcs"] and p["next_gen"] == 1
    assert sync_ivf_index(late, out, src_tag="d7") is True  # real data lands

    aout = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") < 400), aout, n_planes=4)
    assert sync_ann_index(late.limit(0), aout, src_tag="d7") is False
    assert "d7" not in vecindex.read_params(aout, AnnIndexReader._spec)["merged_srcs"]
    assert sync_ann_index(late, aout, src_tag="d7") is True


def test_sync_heals_crashed_overwrite(spark, tmp_path):
    """Crash window of a compaction/rebuild swap: only vectors.__old exists.
    A sync must roll the old table back BEFORE appending — otherwise the
    fresh append creates a new 'vectors' and the entire old corpus is
    stranded in __old forever."""
    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), out, n_lists=4, iters=1)
    os.rename(os.path.join(out, "vectors"), os.path.join(out, "vectors.__old"))
    assert sync_ivf_index(emb.filter(F.col("vec_id") >= 400), out, src_tag="b2")
    r = IvfIndexReader(spark, out)
    assert r.assignments().count() == 500  # old corpus healed + new gen
    assert not os.path.exists(os.path.join(out, "vectors.__old"))


def test_build_and_sync_input_guards(spark, tmp_path):
    """Opaque numpy shape errors become contract errors: an empty corpus (or
    an empty train sample) refuses to build; a wrong-dimension batch refuses
    to sync."""
    import pytest

    from abstracts_search_spark.operators.ivf import sync_ivf_index

    emb = _emb(spark)
    with pytest.raises(ValueError, match="empty corpus"):
        build_ivf_index(emb.limit(0), str(tmp_path / "e"), n_lists=4)
    with pytest.raises(ValueError, match="selected no vectors"):
        # ids 1..3 only: nothing satisfies vec_id % 1000 == 0
        build_ivf_index(emb.filter(F.col("vec_id").between(1, 3)),
                        str(tmp_path / "s"), n_lists=2, train_sample_mod=1000)
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=4, iters=1)
    bad = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimension 2 != index dimension 64"):
        sync_ivf_index(bad, out, src_tag="bad")
    # the refused sync must not have consumed the tag or a generation
    p = vecindex.read_params(out, IvfIndexReader._spec)
    assert "bad" not in p["merged_srcs"] and p["next_gen"] == 1


def test_cell_stats(spark, tmp_path):
    """One occupancy summary for both families: the vectors total the
    corpus, ``cells`` is every cell of the geometry (n_lists lists, 2^n_planes
    buckets) and ``empty`` the cells no vector landed in — 256 buckets over
    500 vectors leave some empty, which a count of occupied rows misses."""
    from abstracts_search_spark.operators.similarity import AnnIndexReader, build_ann_index

    emb = _emb(spark)
    n = emb.count()
    build_ivf_index(emb, str(tmp_path / "ivf"), n_lists=8, iters=1)
    build_ann_index(emb, str(tmp_path / "lsh"), n_planes=8)
    for r, n_cells in ((IvfIndexReader(spark, str(tmp_path / "ivf")), 8),
                       (AnnIndexReader(spark, str(tmp_path / "lsh")), 1 << 8)):
        col = r._spec.sort_col
        occ = [x["count"] for x in r.vectors.groupBy(col).count().collect()]
        st = vecindex.cell_stats(r)
        assert (st["cells"], st["vectors"]) == (n_cells, n) and sum(occ) == n
        assert st["empty"] == n_cells - len(occ)
        assert st["min"] == (0 if st["empty"] else min(occ)) and st["max"] == max(occ)
        assert st["avg"] == round(n / n_cells, 2)
    assert st["empty"] > 0  # the LSH geometry has empty buckets


@pytest.mark.parametrize("kind", ["lsh", "ivf", "sq8"])
def test_vector_tables_declared_schemas_equal_inferred(spark, tmp_path, kind):
    """After a sync, the declared vectors and centroids schemas are exactly
    what Spark infers from the files, columns in the same order, and the
    rows read are the same."""
    from abstracts_search_spark.operators import vecindex
    from abstracts_search_spark.operators.ivf import _IVF_SPEC, CENTROIDS_TABLE, sync_ivf_index
    from abstracts_search_spark.operators.similarity import (
        _ANN_SPEC,
        build_ann_index,
        sync_ann_index,
    )
    from abstracts_search_spark.sources.tables import read_table

    emb = _emb(spark)
    first, second = emb.filter(F.col("vec_id") < 400), emb.filter(F.col("vec_id") >= 400)
    out = str(tmp_path / kind)
    if kind == "lsh":
        build_ann_index(first, out, n_planes=4)
        sync_ann_index(second, out, src_tag="b2")
        spec, tables = _ANN_SPEC, []
    else:
        build_ivf_index(first, out, n_lists=8, iters=1,
                        quantize="none" if kind == "ivf" else kind)
        sync_ivf_index(second, out, src_tag="b2")
        spec, tables = _IVF_SPEC, [("centroids", read_table(spark, out, "centroids", CENTROIDS_TABLE))]
    tables.append(("vectors", vecindex.read_vectors(spark, out, spec)))
    for name, declared in tables:
        inferred = read_table(spark, out, name)
        assert declared.schema.simpleString() == inferred.schema.simpleString(), name
        assert sorted(map(repr, declared.collect())) == sorted(map(repr, inferred.collect())), name


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_ivf_sync_and_first_read_run_no_inference_job(spark, tmp_path, job_count, kind):
    """Both families run the one shared sync and query path with no
    schema-inference job: an IVF sync runs at most 4 jobs and the first read
    after it 2 (the reader's centroids collect and the probe; 5 and 4 when
    the vectors and centroids tables were read with inference); an LSH sync
    (no centroids) at most 3 and the first read 1."""
    from abstracts_search_spark.operators.ivf import sync_ivf_index
    from abstracts_search_spark.operators.similarity import (
        AnnIndexReader,
        build_ann_index,
        sync_ann_index,
    )

    emb = _emb(spark)
    out = str(tmp_path / kind)
    first = emb.filter(F.col("vec_id") < 400)
    if kind == "lsh":
        build_ann_index(first, out, n_planes=4)
        reader_cls, sync_fn, bounds = AnnIndexReader, sync_ann_index, (3, 1)
    else:
        build_ivf_index(first, out, n_lists=8, iters=1)
        reader_cls, sync_fn, bounds = IvfIndexReader, sync_ivf_index, (4, 2)
    r = reader_cls(spark, out)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 450).first()["embedding"]]
    sync = job_count(lambda: sync_fn(emb.filter(F.col("vec_id") >= 400), out, src_tag="b2"))
    top = []
    read = job_count(lambda: top.extend(r.topk(q, k=3).collect()))
    assert top[0]["vec_id"] == 450
    assert sync <= bounds[0] and read <= bounds[1], (sync, read)


def test_auto_n_lists_reference_geometry():
    assert auto_n_lists(10**8) == 65104  # ~the reference's 65,536 lists at 10^8
    assert auto_n_lists(1536 * 65536 * 2) == 65536  # clamped at the reference max
    assert auto_n_lists(100) == 4
    assert auto_n_lists(0) == 4
