"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force exact cosine top-k: the baseline and oracle
  (one float64 GEMM per Arrow batch).
- ``cosine_pairs_blocked`` / ``cosine_pairs_lsh`` — exact and banded-LSH
  near-duplicate pairs.
- the persisted LSH index (:func:`build_ann_index`, :class:`AnnIndexReader`)
  — the scale path: random-hyperplane LSH. Each vector gets a sign-pattern
  bucket from `n_planes` fixed hyperplanes; a query probes its own bucket
  plus its Hamming neighbours. The hyperplanes are seeded constants, so the
  whole pipeline is deterministic and the same plane matrix can be embedded
  into an oracle SQL. The bucketed table is written partitioned by bucket
  prefix → queries prune to a few files (the same IVF-probe analogy as the
  postings buckets, SURVEY.md §4). Its lifecycle (fill, sync, tune,
  compaction, stats) is the shared one of ``operators/vecindex.py``.

The reference's FAISS-IVF index does exactly this job for embeddings
(/root/reference/Makefile:24-39); these operators are that capability
re-expressed relationally.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import vecindex


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k -> (vec_id, cos). TakeOrderedAndProject.

    Optimization r6 (guide §4.2): ONE float64 GEMM per Arrow batch
    (mapInPandas) instead of the interpreted zip_with/aggregate fold —
    the same scoring kernel (and the same GEMM ≡ sequential-fold
    equivalence at 6-decimal rounding) every index probe already uses.
    """
    from typing import Iterator

    import pandas as pd

    qv = np.asarray(query_vec, dtype=np.float64)
    qnorm = float(np.linalg.norm(qv))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            cos = (m @ qv) / (np.linalg.norm(m, axis=1) * qnorm)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].to_numpy(), "cos": np.round(cos, 6)}
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema="vec_id long, cos double"
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def cosine_pairs_blocked(
    emb: DataFrame,
    top: int = 20,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine via blocked numpy matmul -> top pairs.

    The scalable shape for exact quadratic similarity: vectors are tiled into
    hash blocks; each (i<=j) block pair becomes one applyInPandas group
    that does a single float64 GEMM — no per-pair expression evaluation, no
    materialized pair table. Replication factor is n_blocks/2 per side (data
    inflates by B/2, compute stays the same O(n²·d) but runs at BLAS speed).
    -> (vec_a, vec_b, cos) with cos rounded to 6 decimals,
    (cos DESC, vec_a, vec_b) top `top`.

    Optimization r6: each group emits only pairs whose ROUNDED cos reaches
    its local ``top``-th largest — the final order sorts exactly these
    rounded values, so any pair cut locally has ≥ ``top`` group-mates at or
    above it globally (ties all kept): identical top-`top` result, but the
    Python→JVM boundary carries ~groups×top rows instead of n²/2 (measured
    2×10^8 pair rows at 20k vectors before). Blocks are HASH tiles
    (``pmod(id, n_blocks)``): balanced for any id distribution (incl.
    sparse/negative ids) with ZERO driver-side sizing jobs; cross-block
    pairs are swap-normalized inside the group, diagonal blocks keep the
    local ``ia < ib`` mask — every unordered pair lands in exactly one
    (i ≤ j) grid cell either way. ``n_blocks`` defaults to
    ~sqrt(4·parallelism), so the grid stays a few × cores groups with
    replication ~n_blocks/2 per side at any corpus size.
    """
    import pandas as pd

    spark = emb.sparkSession
    nblk = n_blocks or max(
        2, int(round((4 * spark.sparkContext.defaultParallelism) ** 0.5))
    )
    v = emb.select(
        F.col(id_col).alias("vid"),
        _to_double(F.col(vec_col)).alias("vec"),
        F.pmod(F.col(id_col), F.lit(nblk)).cast("int").alias("blk"),
    )
    # the (i <= j) block-pair grid is built AS A PLAN (range × range), never as
    # a driver-side Python list — at 10^6 blocks the old list comprehension
    # was 5×10^11 driver tuples; this is zero driver state at any size
    gi = spark.range(nblk).select(F.col("id").cast("int").alias("gi"))
    gj = spark.range(nblk).select(F.col("id").cast("int").alias("gj"))
    grid = gi.crossJoin(gj).filter(F.col("gi") <= F.col("gj"))
    left = v.join(F.broadcast(grid), v.blk == F.col("gi")).select(
        "gi", "gj", F.lit(0).alias("side"), "vid", "vec"
    )
    right = v.join(F.broadcast(grid), v.blk == F.col("gj")).select(
        "gi", "gj", F.lit(1).alias("side"), "vid", "vec"
    )
    both = left.union(right)

    def gemm(key, pdf):
        gi, gj = int(key[0]), int(key[1])
        a = pdf[pdf["side"] == 0].sort_values("vid")
        b = pdf[pdf["side"] == 1].sort_values("vid") if gi != gj else a
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []})
        ma = np.stack(a["vec"].to_numpy())
        mb = np.stack(b["vec"].to_numpy())
        # dot first, divide by the norm product after — the same operation
        # order as the SQL oracle (modulo summation order inside the GEMM)
        cos = (ma @ mb.T) / np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1))
        ia, ib = np.meshgrid(a["vid"].to_numpy(), b["vid"].to_numpy(), indexing="ij")
        if gi == gj:
            mask = ia < ib  # each within-block pair once
            va, vb, cr = ia[mask], ib[mask], np.round(cos[mask], 6)
        else:
            # hash blocks: every (a, b) combo is a distinct unordered pair
            # appearing in exactly this grid cell — swap-normalize the ids
            va, vb, cr = ia.ravel(), ib.ravel(), np.round(cos.ravel(), 6)
            swap = va > vb
            va, vb = np.where(swap, vb, va), np.where(swap, va, vb)
        if cr.shape[0] > top:  # local top cut on the FINAL (rounded) sort key
            t_k = np.partition(cr, cr.shape[0] - top)[cr.shape[0] - top]
            keep = cr >= t_k
            va, vb, cr = va[keep], vb[keep], cr[keep]
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos": cr})

    pairs = both.groupBy("gi", "gj").applyInPandas(gemm, "vec_a long, vec_b long, cos double")
    return pairs.orderBy(F.desc("cos"), "vec_a", "vec_b").limit(top)


def cosine_pairs_lsh(
    emb: DataFrame,
    top: int = 20,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via banded hyperplane LSH — the 100 TB path.

    Each of `bands` independent plane sets (seed+band) buckets every vector;
    candidate pairs are generated ONLY within (band, bucket) groups, scored
    with one float64 GEMM per group (applyInPandas), then de-duplicated across
    bands. Buckets larger than `max_bucket` are dropped (the boilerplate-skew
    valve, same contract as dedup.minhash_lsh_pairs). No all-pairs stage and
    no driver-side pair structures exist anywhere: the widest shuffles are the
    per-band bucket exchange (narrow rows) and the bounded bucket self-GEMM.

    Recall is governed by (n_planes, bands): P(pair survives) =
    1-(1-(1-θ/π)^n_planes)^bands — near-dups (θ→0) are found with
    near-certainty. Deterministic for fixed seed, so the driver oracle
    replicates the exact same pruning in SQL.
    -> (vec_a, vec_b, cos) top `top` by (cos DESC, vec_a, vec_b).

    Exchange shape: only narrow (vid, band, bucket) rows go through the
    band explode + guard; the vectors are re-joined AFTER guard pruning, in
    their original (typically float32) storage width, and widened to float64
    only inside the per-bucket GEMM — identical numbers to scoring float64
    end-to-end (float32→float64 widening is exact), at a fraction of the
    shuffle bytes (the measured win is recorded in BENCH_shuffle.json).
    """
    from typing import Iterator

    import pandas as pd

    dim = _dim_of(emb, vec_col)
    # all bands' plane matrices stacked: one (batch × dim) · (dim × B·P) GEMM
    # per Arrow batch computes every bucket bit — bucket assignment is a
    # single vectorized pass, not bands × planes interpreted HOF lambdas
    all_planes = np.concatenate(
        [hyperplanes(dim, n_planes, seed + band) for band in range(bands)]
    )  # (bands*n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64)).reshape(1, 1, n_planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):  # zero-row Arrow batch: np.stack would raise
                continue
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            bits = (m @ all_planes.T >= 0).reshape(len(pdf), bands, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)  # (n, bands)
            yield pd.DataFrame({"vid": pdf[id_col].to_numpy(), "bks": list(buckets)})

    per_vec = emb.select(id_col, vec_col).mapInPandas(
        bucketize, schema="vid long, bks array<int>"
    )
    # narrow rows cached: the bucketize pass otherwise re-runs for the
    # guard aggregation and again for the candidate join (guide §5)
    banded = per_vec.select("vid", F.posexplode("bks").alias("band", "bucket")).cache()
    guard = (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("bsz"))
        .filter((F.col("bsz") > 1) & (F.col("bsz") <= max_bucket))
        .select("band", "bucket")
    )
    # vectors join the surviving candidates at storage width (array<float>)
    vecs = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    cand = banded.join(F.broadcast(guard), ["band", "bucket"]).join(vecs, "vid")

    def gemm(key, pdf):
        a = pdf.sort_values("vid")
        # widen to float64 HERE (exact for float32 storage) — the GEMM and the
        # oracle both compute in doubles regardless of what the shuffle carried
        m = np.stack([np.asarray(x, dtype=np.float64) for x in a["vec"]])
        cos = (m @ m.T) / np.outer(np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1))
        ids = a["vid"].to_numpy()
        ia, ib = np.meshgrid(ids, ids, indexing="ij")
        mask = ia < ib
        va, vb, cr = ia[mask], ib[mask], np.round(cos[mask], 6)
        if cr.shape[0] > top:
            # local cut on the rounded sort key: cross-band duplicates carry
            # the SAME cos, so the post-dedup global top-`top` still has every
            # survivor in its own group's kept set (ties all kept)
            t_k = np.partition(cr, cr.shape[0] - top)[cr.shape[0] - top]
            keep = cr >= t_k
            va, vb, cr = va[keep], vb[keep], cr[keep]
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos": cr})

    pairs = cand.groupBy("band", "bucket").applyInPandas(
        gemm, "vec_a long, vec_b long, cos double"
    )
    dedup = pairs.groupBy("vec_a", "vec_b").agg(F.max("cos").alias("cos"))
    return dedup.orderBy(F.desc("cos"), "vec_a", "vec_b").limit(top)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Seeded random hyperplanes — fixed constants of the index."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))




# bumped when the persisted ANN artifact layout or bucketize math changes —
# cached index dirs built with an older format are rebuilt
# (4: bucket-PREFIX directory layout — one dir per 2^GROUP_BITS bucket
#  group, buckets row-group-pruned within files; 3: generations + sized
#  n_planes + GEMM probe scoring)
ANN_INDEX_FORMAT = 4

# directory fan-out bound: vectors partition into at most 2^GROUP_BITS dirs
# per generation (bgroup = bucket >> (n_planes - GROUP_BITS)), files sorted
# by bucket so the pushed In(bucket,…) predicate prunes at row-group
# granularity inside each dir. One-dir-per-bucket at 65,536 buckets would
# cost every probe a 65k-entry listing (measured: 6.1s/query at sf0.1) —
# the same driver-serial listing wall FAISS avoids by keeping all inverted
# lists in one file; 256 dirs + row-group stats is the parquet equivalent.
ANN_GROUP_BITS = 8

# auto-sizing target: vectors per inverted list at full probe selectivity.
# The reference trains 65,536 IVF lists over ~10^8 abstracts (README.md:60,
# Makefile:38-39) — ~1.5k vectors/list; solving n/2^p = 1536 for p and
# clamping to [4, 16] reproduces that geometry at reference scale (10^8
# vectors → 16 planes = 65,536 buckets) while keeping fixture-scale indexes
# probeable (a 60-vector fixture gets 16 buckets, not 65,536 empties).
AUTO_TARGET_BUCKET_VECS = 1536


def auto_n_planes(n_vectors: int) -> int:
    """Corpus size -> hyperplane count (bucket count = 2^n_planes)."""
    if n_vectors <= 0:
        return 4
    raw = int(round(np.log2(max(n_vectors / AUTO_TARGET_BUCKET_VECS, 1.0))))
    return min(16, max(4, raw))


def hamming_probe_order(
    qsig: int, n_planes: int, probe_hamming: int, max_probes: int | None = None
) -> list[int]:
    """Bucket ids to probe, ordered by Hamming distance from the query's
    signature (distance 0 first), ties broken by ascending bucket id —
    deterministic, so an oracle can replicate the exact probe set. The
    multi-probe analog of the reference's nprobe ordering (nearest IVF
    centroids first, Makefile:31-32)."""
    from itertools import combinations

    order: list[int] = []
    for d in range(min(probe_hamming, n_planes) + 1):
        level = sorted(
            qsig ^ sum(1 << b for b in flip)
            for flip in combinations(range(n_planes), d)
        )
        order.extend(level)
        if max_probes is not None and len(order) >= max_probes:
            return order[:max_probes]
    return order


def _query_sig(query_vec, planes: np.ndarray) -> int:
    qv = np.asarray(query_vec, dtype=np.float64)
    bits = planes @ qv >= 0
    return int(sum(1 << i for i in range(planes.shape[0]) if bits[i]))


# shared lifecycle + reader (r5 verdict #8): fill/sync/tune/compact/stats and
# the probe → GEMM → top-k query path live ONCE in operators/vecindex.py for
# both vector-index families
_ANN_SPEC = vecindex.VecIndexSpec(
    kind="ANN", params_file="ann_params.json",
    format_version=ANN_INDEX_FORMAT, part_col="bgroup",
    sort_col="bucket", builder="build_ann_index",
)


def _group_shift(n_planes: int) -> int:
    return max(0, n_planes - ANN_GROUP_BITS)


def _bucketize_fn(planes: np.ndarray, params: dict, id_col: str, vec_col: str, gen: int):
    """The LSH fill: one float64 GEMM per Arrow batch -> (vec_id, embedding,
    bucket, bgroup, gen). Catalyst higher-order-function lambdas evaluate
    interpreted, so a per-row sign fold would be the build's CPU ceiling at
    100 TB. ``bgroup`` is the directory key (bucket prefix,
    :data:`ANN_GROUP_BITS`); ``bucket`` stays a data column pruned by
    row-group stats."""
    from typing import Iterator

    import pandas as pd

    n_planes = int(params["n_planes"])
    weights = (1 << np.arange(n_planes, dtype=np.int64)).reshape(1, n_planes)
    shift = _group_shift(n_planes)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):  # zero-row Arrow batch: np.stack would raise
                continue
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            bits = m @ planes.T >= 0  # float64 — matches the oracle's
            # per-plane double dot products for any non-degenerate input
            buckets = (bits * weights).sum(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "embedding": list(pdf[vec_col]),
                    "bucket": buckets,
                    "bgroup": (buckets >> shift).astype(np.int32),
                    "gen": np.full(len(pdf), gen, dtype=np.int32),
                }
            )

    return bucketize


def build_ann_index(
    emb: DataFrame,
    out_dir: str,
    n_planes: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the LSH-bucketed embedding table, partitioned by
    (gen, bucket-prefix), bucket-sorted within files.

    The on-disk analog of the reference's IVF fill (/root/reference/
    Makefile:24-25): vectors grouped into inverted lists by coarse bucket so
    a query reads only its probed buckets' data. Pruning is two-level —
    directory (bgroup PartitionFilter, ≤2^ANN_GROUP_BITS dirs) then
    row-group (pushed In(bucket,…) against bucket-sorted file stats) — so
    the 65,536-bucket reference geometry never turns into 65,536 directory
    listings per probe. ``n_planes=None`` auto-sizes the bucket count to
    the corpus (:func:`auto_n_planes` — 16 planes = the reference's 65,536
    lists at 10^8+ vectors). Generation partitioning makes the index
    INCREMENTAL: :func:`sync_ann_index` appends new vector batches as new
    generations under the same plane set, mirroring the doc index's
    gen-stacked postings. Written through the table facade, so a
    rebuild-overwrite is crash-atomic (tmp→swap); ann_params.json lands LAST
    as the completeness marker.
    """
    if n_planes is None:
        n_planes = auto_n_planes(emb.count())
    planes = hyperplanes(_dim_of(emb, vec_col), n_planes, seed)
    params = {
        "n_planes": int(n_planes),
        "seed": seed,
        "dim": int(planes.shape[1]),
        "format": ANN_INDEX_FORMAT,
        "group_bits": ANN_GROUP_BITS,
        "probe_hamming": 1,
        "vec_type": emb.schema[vec_col].dataType.simpleString(),
        "merged_srcs": ["__initial__"],
        "next_gen": 1,
        "build_id": __import__("uuid").uuid4().hex,
    }
    vecindex.fill(AnnIndexReader, emb, out_dir, planes, params, 0, id_col, vec_col)
    vecindex.write_params(out_dir, _ANN_SPEC, params)


def sync_ann_index(
    new_emb: DataFrame,
    out_dir: str,
    src_tag: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Append a NEW batch of vectors to a persisted ANN index as the next
    generation under the index's fixed planes — the vector-side twin of the
    doc index's incremental merge, with the crash-replay contract of
    :func:`~.vecindex.sync`. Returns True if a generation was appended."""
    return vecindex.sync(AnnIndexReader, new_emb, out_dir, src_tag, id_col, vec_col)


class AnnIndexReader(vecindex.CellIndexReader):
    """Long-lived handle on a persisted ANN index (the shared query path of
    :class:`~.vecindex.CellIndexReader`). A query's cells are its Hamming
    probe order (:func:`hamming_probe_order` from its plane signature):
    ``topk``/``topk_many`` take ``probe_hamming`` (default: the tuned value
    in ann_params.json) and ``max_probes`` (truncates the ordered list — the
    nprobe knob). Buckets map to directories by their top
    :data:`ANN_GROUP_BITS` bits; payloads are the raw embeddings. Tune
    sweeps the radii 0 … n_planes (radius n_planes probes every bucket)."""

    _spec = _ANN_SPEC
    knob = "probe_hamming"
    _fill_fn = staticmethod(_bucketize_fn)

    @staticmethod
    def _constants(spark, index_dir: str, params: dict) -> np.ndarray:
        return hyperplanes(params["dim"], params["n_planes"], params["seed"])

    def _load_constants(self) -> None:
        self.planes = self._constants(self.spark, self.index_dir, self.params)

    def _probe(self, query_vec, probe_hamming: int | None = None, max_probes: int | None = None):
        if probe_hamming is None:
            probe_hamming = int(self.params.get("probe_hamming", 1))
        qsig = _query_sig(query_vec, self.planes)
        return hamming_probe_order(
            qsig, int(self.params["n_planes"]), probe_hamming, max_probes
        )

    def _n_cells(self) -> int:
        return 1 << int(self.params["n_planes"])

    def _groups_of(self, cells: np.ndarray) -> np.ndarray:
        return cells >> _group_shift(int(self.params["n_planes"]))

    def _tune_widths(self) -> list[int]:
        return list(range(int(self.params["n_planes"]) + 1))


def _dim_of(emb: DataFrame, vec_col: str) -> int:
    return len(emb.select(vec_col).first()[0])
