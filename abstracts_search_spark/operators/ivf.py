"""IVF (inverted-file) vector index trained with distributed k-means — the
reference's ACTUAL ANN geometry. The reference trains a FAISS
``OPQ32,IVF65536_HNSW32,PQ32`` index whose 65,536 inverted lists are k-means
cluster cells (/root/reference/README.md:60, Makefile:38-39); a query probes
only the ``nprobe`` nearest cells. The LSH family in
``operators/similarity.py`` approximates that geometry with data-INDEPENDENT
hyperplane signs; this module implements the trained, data-ADAPTIVE version:
list occupancy follows the data distribution, which is why the reference
trains rather than hashes.

Spark shape: Lloyd iterations are one ``mapInPandas`` pass (per-partition
GEMM assignment + per-cluster partial sums — the map-side combine) feeding a
k-row ``applyInPandas`` reduction; only (k × dim) doubles ever reach the
driver, the same footprint FAISS itself needs to hold the trained
centroids. The persisted index partitions vectors by contiguous list-range
directories (≤``IVF_MAX_GROUPS`` dirs) with list-sorted 1 MiB row groups, so
a probe prunes directory-first then row-group — the same two-level layout as
the ANN LSH index (one-dir-per-list at 65,536 lists would put a 65k-entry
listing on every query's driver path).

Cross-engine determinism contract (shared with the DuckDB oracle SQL in
``__spark_entry__``):

- all math in float64 (exact widening from float32 storage);
- centroids are rounded to 6 decimals after init and after EVERY Lloyd
  update, so both engines enter each iteration with identical constants;
- init = the ``n_lists`` lowest-``vec_id`` vectors (no RNG);
- assignment = argmin over ``round(d², 6)``, ties broken by lowest list id;
- d² composed as ``(‖v‖² − 2·v·c) + ‖c‖²`` in both engines (identical
  floating-point association);
- a Lloyd update is ``round(Σ members / count, 6)`` per dimension; an empty
  list keeps its previous (already-rounded) centroid.

Accepted residual: ``np.round`` is half-to-even while SQL ``round`` is
half-away-from-zero, so a value whose float64 form lands EXACTLY on a
6-decimal tie could round differently per engine (the same residual every
round-6 oracle in this repo carries). Ties at the 6th decimal of irrational
means/distances are measure-zero in the fixed test data — and because the
data is deterministic, a divergence would be a stable oracle failure caught
by the gate, never a flake. The SQ8 codec, where ties DO occur by
construction (code boundaries), uses floor(x + 0.5) on both engines instead.
A second residual of the same class (ADVICE r5): the Lloyd mean's partials
are summed in PARTITION-ID order on the Spark side (deterministic for a
fixed partitioning — lloyd_step sorts before stacking), but DuckDB sums in
its own internal order, so a per-dimension mean within an ulp of a
6-decimal boundary could still round differently per ENGINE.
"""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame
from . import vecindex

# bumped when the persisted IVF artifact layout or training math changes
# (4: sq8r residual-coded payload (a format-3 reader would mis-read an sq8r
#  index as unquantized — the stamp exists to refuse that cleanly);
#  3: optional SQ8 scalar quantization — vectors stored as uint8 codes;
#  2: generation partitioning — incremental fills append as gen=N under the
#  same trained centroids, mirroring the ANN index's gen-stacked layout)
IVF_INDEX_FORMAT = 4

# directory fan-out bound (same rationale as similarity.ANN_GROUP_BITS)
IVF_MAX_GROUPS = 256

# auto-sizing target: vectors per inverted list — the reference's 65,536
# lists over ~10^8 abstracts is ~1.5k vectors/list (README.md:60)
AUTO_TARGET_LIST_VECS = 1536


def auto_n_lists(n_vectors: int) -> int:
    """Corpus size -> inverted-list count (reference geometry: 10^8 vectors
    -> 65,536 lists)."""
    if n_vectors <= 0:
        return 4
    return min(65536, max(4, int(round(n_vectors / AUTO_TARGET_LIST_VECS))))


def _lgroup_of(lists: np.ndarray, n_lists: int, n_groups: int) -> np.ndarray:
    """Contiguous list-range directory key: lists [0, n_lists) map onto
    [0, n_groups) preserving order, so a probe's nearest lists land in few
    directories."""
    return ((lists.astype(np.int64) * n_groups) // n_lists).astype(np.int32)


# assignment GEMM tile bounds (r5 verdict #1): peak per-task memory is
# O(ASSIGN_ROW_CHUNK × ASSIGN_CENT_BLOCK) float64 (~32 MB at 1024×4096)
# instead of O(arrow_batch × n_lists) — a 10k-row batch × the reference's
# 65,536 lists was ~5.2 GB × 2 per concurrent task, which could not run at
# the geometry this module explicitly targets (README.md:60).
ASSIGN_ROW_CHUNK = 1024
ASSIGN_CENT_BLOCK = 4096


def assign_ids(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Vectorized nearest-centroid assignment under the determinism contract:
    argmin over round(d², 6), ties -> lowest list id.

    Tiled (r5 verdict #1): rows in ASSIGN_ROW_CHUNK slices × centroids in
    ASSIGN_CENT_BLOCK slices with a running argmin. Each d² element is the
    same round((‖v‖² − 2·v·c) + ‖c‖², 6) as the untiled version, blocks
    scan in ascending centroid order and the running update is a strict
    ``<`` (np.argmin keeps the first index within a block), so ties still
    resolve to the lowest list id — same assignments, with memory bounded
    by one ASSIGN_ROW_CHUNK × ASSIGN_CENT_BLOCK tile at any list count.
    """
    n, k = m.shape[0], cents.shape[0]
    cc = (cents * cents).sum(axis=1)
    out = np.empty(n, dtype=np.int32)
    for r0 in range(0, n, ASSIGN_ROW_CHUNK):
        rows = m[r0 : r0 + ASSIGN_ROW_CHUNK]
        vv = (rows * rows).sum(axis=1)
        best_d2: np.ndarray | None = None
        best_ix: np.ndarray | None = None
        for c0 in range(0, k, ASSIGN_CENT_BLOCK):
            cb = cents[c0 : c0 + ASSIGN_CENT_BLOCK]
            d2 = np.round((vv[:, None] - 2.0 * (rows @ cb.T)) + cc[c0 : c0 + ASSIGN_CENT_BLOCK][None, :], 6)
            ix = d2.argmin(axis=1)
            val = d2[np.arange(d2.shape[0]), ix]
            if best_d2 is None:
                best_d2, best_ix = val, ix + c0
            else:
                upd = val < best_d2  # strict: ties keep the earlier block's id
                best_d2 = np.where(upd, val, best_d2)
                best_ix = np.where(upd, ix + c0, best_ix)
        out[r0 : r0 + ASSIGN_ROW_CHUNK] = best_ix
    return out


def init_centroids(
    emb: DataFrame, n_lists: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> np.ndarray:
    """Deterministic seeding: the n_lists lowest-id vectors, rounded to 6
    decimals (both engines start from identical constants — no RNG, no
    kmeans++ sampling order to replicate)."""
    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(n_lists).collect()
    mat = np.array(
        [[float(x) for x in r[vec_col]] for r in rows], dtype=np.float64
    )
    return np.round(mat, 6)


def lloyd_step(
    emb: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """One distributed Lloyd update: assignment + per-list mean.

    mapInPandas computes the batch GEMM assignment and accumulates per-list
    (Σvec, count) across the partition — the map-side combine, so the shuffle
    carries at most (partitions × k) narrow rows; applyInPandas reduces to
    ≤k rows; only (k × dim) doubles are collected. Empty lists keep their
    previous centroid."""
    from typing import Iterator

    import pandas as pd

    k, d = cents.shape

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        sums = np.zeros((k, d), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            cl = assign_ids(m, cents)
            np.add.at(sums, cl, m)
            np.add.at(counts, cl, 1)
        nz = np.nonzero(counts)[0]
        if len(nz):
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            yield pd.DataFrame(
                {
                    "cl": nz.astype(np.int32),
                    "pid": np.full(len(nz), pid, dtype=np.int32),
                    "psum": list(sums[nz]),
                    "n": counts[nz],
                }
            )

    def reduce_cl(key, pdf):
        # partials are summed in PARTITION-ID order (ADVICE r5): the stack
        # order is then a pure function of the input partitioning, not of
        # task-arrival timing — the per-run float64 association is fixed.
        # (The cross-ENGINE summation-order residual vs DuckDB remains and
        # is documented in the module header.)
        pdf = pdf.sort_values("pid")
        s = np.stack(pdf["psum"].to_numpy()).sum(axis=0)
        return pd.DataFrame(
            {"cl": [np.int32(key[0])], "pid": [np.int32(0)], "psum": [s], "n": [pdf["n"].sum()]}
        )

    schema = "cl int, pid int, psum array<double>, n long"
    tot = (
        emb.select(id_col, vec_col)
        .mapInPandas(partials, schema=schema)
        .groupBy("cl")
        .applyInPandas(reduce_cl, schema=schema)
        .collect()
    )
    out = cents.copy()
    for r in tot:
        out[r["cl"]] = np.round(np.asarray(r["psum"], dtype=np.float64) / r["n"], 6)
    return out


def train_kmeans(
    emb: DataFrame,
    n_lists: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic distributed k-means -> (n_lists × dim) float64 centroid
    matrix (each entry rounded to 6 decimals). The analog of the reference's
    `index train` step (Makefile:24, 65,536-list k-means on a sample); here
    the full corpus participates — each iteration is one Spark job."""
    cents = init_centroids(emb, n_lists, id_col, vec_col)
    for _ in range(iters):
        cents = lloyd_step(emb, cents, id_col, vec_col)
    return cents


def _assign_fn(consts, params: dict, id_col: str, vec_col: str, gen: int):
    """The IVF fill: ``consts`` = (centroids, ``quant`` = (qmin, qscale,
    residual) or None). Assignment always runs on the RAW vector (the
    coarse quantizer sees full precision, as in FAISS ADC); with ``quant``
    set, the stored payload is the uint8 SQ8 code bytes instead of the
    vector — a 4× storage shrink for float32 inputs. ``residual`` selects
    RESIDUAL coding (codes quantize x − centroid[cell], the true FAISS
    IVF-PQ shape — residuals have a tighter range than raw coordinates, so
    the same 256 levels land closer)."""
    from typing import Iterator

    import pandas as pd

    cents, quant = consts
    n_lists, n_groups = cents.shape[0], int(params["n_groups"])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            cl = assign_ids(m, cents)
            out = {
                "vec_id": pdf[id_col].to_numpy(),
                "list": cl,
                "lgroup": _lgroup_of(cl, n_lists, n_groups),
                "gen": np.full(len(pdf), gen, dtype=np.int32),
            }
            if quant is None:
                out["embedding"] = list(pdf[vec_col])
            else:
                qmin, qscale, residual = quant
                base = m - cents[cl] if residual else m
                codes = sq8_encode(base, qmin, qscale)
                out["codes"] = [row.tobytes() for row in codes]
            yield pd.DataFrame(out)

    return assign


QUANT_MODES = ("none", "sq8", "sq8r")


def residual_min_max(
    emb: DataFrame, cents: np.ndarray, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) of the assignment residuals x − centroid[cl]
    — the sq8r quantizer's training step."""
    return _min_max_pass(emb, vec_col, lambda m: m - cents[assign_ids(m, cents)])


def _min_max_pass(
    emb: DataFrame, vec_col: str, transform
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) of ``transform(matrix)`` over the corpus:
    one mapInPandas pass emitting one partial row per partition, driver
    reduce over ≤partitions rows. Exact and order-independent (min/max have
    no floating-point summation-order issues), so both engines derive
    identical quantizer constants."""
    from typing import Iterator

    import pandas as pd

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo = hi = None
        for pdf in batches:
            if not len(pdf):
                continue
            m = transform(
                np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            )
            blo, bhi = m.min(axis=0), m.max(axis=0)
            lo = blo if lo is None else np.minimum(lo, blo)
            hi = bhi if hi is None else np.maximum(hi, bhi)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo], "hi": [hi]})

    rows = (
        emb.select(vec_col)
        .mapInPandas(partials, schema="lo array<double>, hi array<double>")
        .collect()
    )
    lo = np.min(np.stack([np.asarray(r["lo"]) for r in rows]), axis=0)
    hi = np.max(np.stack([np.asarray(r["hi"]) for r in rows]), axis=0)
    return lo, hi


def corpus_min_max(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) over the raw corpus — the SQ8 quantizer's
    training step."""
    return _min_max_pass(emb, vec_col, lambda m: m)


def sq8_encode(m: np.ndarray, qmin: np.ndarray, qscale: np.ndarray) -> np.ndarray:
    """float64 (n × d) -> uint8 codes under the cross-engine contract:
    code = clamp(floor((x − qmin)/qscale + 0.5), 0, 255) — floor(v + 0.5) is
    half-away-from-zero for the non-negative operand, matching SQL
    floor(v + 0.5) exactly (np.round would banker's-round). A zero-range
    dimension (qscale 0) codes to 0 and decodes to qmin."""
    with np.errstate(divide="ignore", invalid="ignore"):
        v = np.where(qscale > 0, (m - qmin) / np.where(qscale > 0, qscale, 1.0), 0.0)
    return np.clip(np.floor(v + 0.5), 0.0, 255.0).astype(np.uint8)


def sq8_decode(codes: np.ndarray, qmin: np.ndarray, qscale: np.ndarray) -> np.ndarray:
    """uint8 codes -> the reconstruction x̂ = qmin + code·qscale (float64)."""
    return qmin + codes.astype(np.float64) * qscale


def _matrix_fn(
    quant: tuple[np.ndarray, np.ndarray, bool] | None,
    cents: np.ndarray | None = None,
):
    """Candidate batch -> float64 matrix: raw vectors widened, or SQ8 codes
    reconstructed (x̂ = qmin + code·qscale — asymmetric scoring: the query
    stays full-precision, as in FAISS ADC); residual mode (sq8r) adds the
    row's cell centroid back (x̂ = centroid[list] + decode(codes), so the
    batch must carry the ``list`` column). Standalone closure (only numpy
    arrays captured), so scoring UDFs never pickle a reader/session."""
    if quant is None:
        return vecindex.raw_matrix
    qmin, qscale, residual = quant
    if residual and cents is None:
        raise ValueError("residual decode requires the centroid matrix")

    def to_matrix(pdf) -> np.ndarray:
        codes = np.stack(
            [np.frombuffer(b, dtype=np.uint8) for b in pdf["codes"]]
        )
        dec = sq8_decode(codes, qmin, qscale)
        if residual:
            dec = cents[pdf["list"].to_numpy()] + dec
        return dec

    return to_matrix


# the centroids table as written and read back (one row per trained cell)
CENTROIDS_TABLE = "cl int, centroid array<double>"


def _load_centroids(spark, out_dir: str, params: dict) -> np.ndarray:
    """centroids table -> dense (n_lists × dim) float64 matrix."""
    from ..sources.tables import read_table

    cents = np.zeros((params["n_lists"], params["dim"]), dtype=np.float64)
    for r in read_table(spark, out_dir, "centroids", CENTROIDS_TABLE).collect():
        cents[r["cl"]] = np.asarray(r["centroid"], dtype=np.float64)
    return cents


# shared lifecycle + reader (r5 verdict #8): fill/sync/tune/compact/stats and
# the probe → GEMM → top-k query path live ONCE in operators/vecindex.py for
# both vector-index families
_IVF_SPEC = vecindex.VecIndexSpec(
    kind="IVF", params_file="ivf_params.json",
    format_version=IVF_INDEX_FORMAT, part_col="lgroup",
    sort_col="list", builder="build_ivf_index",
)


def build_ivf_index(
    emb: DataFrame,
    out_dir: str,
    n_lists: int | None = None,
    iters: int = 2,
    nprobe: int = 2,
    quantize: str = "none",
    train_sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train centroids and persist the IVF index: a ``centroids`` table
    (cl, centroid) and a ``vectors`` table partitioned by contiguous
    list-range directory (≤IVF_MAX_GROUPS dirs), list-sorted 1 MiB row
    groups — the train + fill steps of the reference's Makefile:24-25 as two
    table commits. ``ivf_params.json`` lands LAST as the completeness
    marker; writes go through the table facade, so a rebuild is
    crash-atomic (tmp→swap).

    ``quantize="sq8"`` stores each vector as uint8 codes (per-dim min/scale
    trained on the corpus alongside the centroids) — the analog of the
    reference's PQ32 compression (README.md:60: vectors live in the index as
    quantized codes, queries score asymmetrically against reconstructions;
    4× smaller than float32 storage). Like the centroids, the quantizer is
    fixed at build time; later generations encode with it unchanged.

    ``train_sample_mod=m`` trains centroids (and the SQ8 quantizer) on the
    deterministic 1/m sample ``vec_id % m == 0`` instead of the full corpus
    — the reference trains FAISS the same way (a RAM-sized sample, not all
    10^8 vectors); at 100 TB the 2×iters training scans touch 1/m of the
    data while the fill still assigns every vector. The predicate is
    engine-portable (plain modulo), so a sampled index stays oracle-able."""
    from ..sources.tables import commit

    if quantize not in QUANT_MODES:
        raise ValueError(f"unknown quantize mode {quantize!r} (one of {QUANT_MODES})")
    if train_sample_mod < 1:
        raise ValueError("train_sample_mod must be >= 1")
    train_emb = (
        emb if train_sample_mod == 1
        else emb.filter(F.col(id_col) % train_sample_mod == 0)
    )
    n = emb.count()
    if n == 0:
        raise ValueError("build_ivf_index: empty corpus (no vectors to index)")
    n_train = n if train_sample_mod == 1 else train_emb.count()
    if n_train == 0:
        raise ValueError(
            f"build_ivf_index: train sample vec_id % {train_sample_mod} == 0 "
            "selected no vectors — lower train_sample_mod"
        )
    if n_lists is None:
        n_lists = auto_n_lists(n)
    n_lists = max(1, min(n_lists, n_train))
    n_groups = min(IVF_MAX_GROUPS, n_lists)
    cents = train_kmeans(train_emb, n_lists, iters, id_col, vec_col)

    quant = None
    if quantize in ("sq8", "sq8r"):
        if quantize == "sq8":
            lo, hi = corpus_min_max(train_emb, vec_col)
        else:  # sq8r: bounds of the assignment residuals (FAISS IVF-PQ shape)
            lo, hi = residual_min_max(train_emb, cents, vec_col)
        quant = (lo, (hi - lo) / 255.0, quantize == "sq8r")
    params = {
        "n_lists": int(n_lists),
        "iters": int(iters),
        "dim": int(cents.shape[1]),
        "format": IVF_INDEX_FORMAT,
        "vec_type": emb.schema[vec_col].dataType.simpleString(),
        "n_groups": int(n_groups),
        "nprobe": int(nprobe),
        "n_vectors": int(n),
        "quantize": quantize,
        "train_sample_mod": int(train_sample_mod),
        "merged_srcs": ["__initial__"],
        "next_gen": 1,
        "build_id": uuid.uuid4().hex,
    }
    if quant is not None:
        params["sq8_min"] = [float(x) for x in quant[0]]
        params["sq8_scale"] = [float(x) for x in quant[1]]
    vecindex.fill(IvfIndexReader, emb, out_dir, (cents, quant), params, 0, id_col, vec_col)

    cdf = local_frame(
        emb.sparkSession, list(zip(range(n_lists), cents.astype(np.float64).tolist())),
        CENTROIDS_TABLE,
    )
    commit(cdf, out_dir, "centroids")
    vecindex.write_params(out_dir, _IVF_SPEC, params)


def sync_ivf_index(
    new_emb: DataFrame,
    out_dir: str,
    src_tag: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Append a NEW vector batch to a persisted IVF index as the next
    generation — assignment (and SQ8 coding) under the index's FIXED trained
    centroids and quantizer, no retrain (FAISS `index fill` on an
    already-trained index), with the crash-replay contract of
    :func:`~.vecindex.sync`. Returns True if a generation was appended."""
    return vecindex.sync(IvfIndexReader, new_emb, out_dir, src_tag, id_col, vec_col)


def probe_lists(query_vec, cents: np.ndarray, nprobe: int) -> list[int]:
    """The nprobe nearest centroids under round(d², 6), ties -> lowest list
    id — deterministic, so the oracle's ORDER BY d, cl LIMIT nprobe selects
    the identical probe set (the reference's nprobe knob, Makefile:31-32)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    vv = float(qv @ qv)
    d2 = np.round((vv - 2.0 * (cents @ qv)) + (cents * cents).sum(axis=1), 6)
    order = np.lexsort((np.arange(cents.shape[0]), d2))
    return [int(x) for x in order[: max(1, nprobe)]]


class IvfIndexReader(vecindex.CellIndexReader):
    """Long-lived handle on a persisted IVF index (the shared query path of
    :class:`~.vecindex.CellIndexReader`). A query's cells are its ``nprobe``
    nearest centroids (:func:`probe_lists`): ``topk``/``topk_many`` take
    ``nprobe`` (default: the tuned value in ivf_params.json). Lists map to
    contiguous list-range directories (:func:`_lgroup_of`); SQ8 payloads are
    reconstructed before scoring (asymmetric, as in FAISS ADC). Tune sweeps
    nprobe = 1, 2, 4, … and then n_lists (the exhaustive scan)."""

    _spec = _IVF_SPEC
    knob = "nprobe"
    _fill_fn = staticmethod(_assign_fn)

    @staticmethod
    def _constants(spark, index_dir: str, params: dict):
        """-> (centroids, (qmin, qscale, residual) or None)."""
        quant = None
        if params.get("quantize", "none") in ("sq8", "sq8r"):
            quant = (
                np.asarray(params["sq8_min"], dtype=np.float64),
                np.asarray(params["sq8_scale"], dtype=np.float64),
                params["quantize"] == "sq8r",
            )
        return _load_centroids(spark, index_dir, params), quant

    def _load_constants(self) -> None:
        self.centroids, self.quant = self._constants(self.spark, self.index_dir, self.params)
        self.payload_col = "codes" if self.quant is not None else "embedding"

    def _probe(self, query_vec, nprobe: int | None = None) -> list[int]:
        if nprobe is None:
            nprobe = int(self.params.get("nprobe", 2))
        return probe_lists(query_vec, self.centroids, nprobe)

    def _n_cells(self) -> int:
        return int(self.params["n_lists"])

    def _groups_of(self, cells: np.ndarray) -> np.ndarray:
        return _lgroup_of(cells, int(self.params["n_lists"]), int(self.params["n_groups"]))

    def _tune_widths(self) -> list[int]:
        n_lists = int(self.params["n_lists"])
        return [1 << i for i in range(n_lists.bit_length()) if 1 << i < n_lists] + [n_lists]

    def _decoder(self):
        return _matrix_fn(self.quant, self.centroids)

    def assignments(self) -> DataFrame:
        """-> (vec_id, list_id): the full trained assignment table."""
        self._refresh_if_stale()
        return self.vectors.select(
            "vec_id", F.col("list").alias("list_id")
        )
