"""The persisted vector indexes (LSH + trained IVF): one lifecycle and one
query path for both families.

``operators/similarity.py`` (hashed LSH buckets) and ``operators/ivf.py``
(trained k-means cells) persist the same artifact shape — a generation-
partitioned ``vectors`` table under two-level pruning directories plus a
params-json completeness marker — and answer queries the same way: pick
each query's cells, scan only those cells, score the candidates exactly,
keep the top k. This module holds everything the two families share, so a
format or contract change lands once (r5 verdict item 8):

- the lifecycle: atomic marker writes, the vectors-table layout, the fill
  (:func:`fill`, gen 0 at build), the sync (:func:`sync`: tag-replay /
  empty-batch / dimension guards, orphan-generation scrub), compaction
  (:func:`compact_generations`) and reader staleness;
- the reader: :class:`CellIndexReader` runs probe → pruned scan → one GEMM
  per candidate batch → top-k for both families;
- the tune step (:func:`tune`: :func:`recall_sweep` over the family's probe
  widths plus the :func:`cell_stats` occupancy summary).

A family is described once, by its reader class: a small ``VecIndexSpec``
(params filename, format stamp, partition/sort columns, builder name for
error messages), its probe knob, and the hooks of :class:`CellIndexReader`
— its constants, its fill UDF, how a query picks its cells, how a cell
maps to its directory, how many cells exist, its tune widths, and how a
stored row decodes to a float64 vector.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import no_rows
from ..sources.tables import scrub_orphan_generations

# vectors-table row-group size: the pushed In(cell,…) predicate prunes
# cell-sorted row groups of this size inside each directory
VECTORS_ROW_GROUP_BYTES = 1 << 20


@dataclass(frozen=True)
class VecIndexSpec:
    """Per-family constants of the shared vector-index lifecycle."""

    kind: str            # "ANN" | "IVF" — error-message prefix
    params_file: str     # "ann_params.json" | "ivf_params.json"
    format_version: int  # current on-disk format stamp
    part_col: str        # directory key within a generation (bgroup/lgroup)
    sort_col: str        # row-group pruning sort key (bucket/list)
    builder: str         # rebuild entry point named in error messages


def payload_ddl(vec_type: str, quantize: str = "none") -> str:
    """The stored vector column: the raw ``embedding`` (of the input's
    ``vec_type``), or the SQ8 ``codes`` bytes of a quantized IVF index."""
    if quantize in ("sq8", "sq8r"):
        return "codes binary"
    return f"embedding {vec_type}"


def rows_ddl(spec: VecIndexSpec, vec_type: str, quantize: str = "none") -> str:
    """A family's assigned rows, as its fill stage emits them."""
    return (f"vec_id long, {payload_ddl(vec_type, quantize)}, {spec.sort_col} int, "
            f"{spec.part_col} int, gen int")


def read_vectors(spark, out_dir: str, spec: VecIndexSpec, p: dict | None = None) -> DataFrame:
    """The vectors table, read with its declared schema (data columns, then
    the (gen, ``spec.part_col``) directories), so the read runs no Spark job
    inferring it from a parquet footer. ``p``: the index params, read from
    ``out_dir`` when omitted."""
    from ..sources.tables import read_table

    p = read_params(out_dir, spec) if p is None else p
    payload = payload_ddl(p["vec_type"], p.get("quantize", "none"))
    return read_table(spark, out_dir, "vectors",
                      f"vec_id long, {payload}, {spec.sort_col} int, gen int, {spec.part_col} int")


def params_path(out_dir: str, spec: VecIndexSpec) -> str:
    return os.path.join(out_dir, spec.params_file)


def read_params(out_dir: str, spec: VecIndexSpec) -> dict:
    with open(params_path(out_dir, spec)) as f:
        return json.load(f)


def write_params(out_dir: str, spec: VecIndexSpec, params: dict) -> None:
    from ..sources.tables import write_params as write_atomic

    write_atomic(params_path(out_dir, spec), params)


def check_format(p: dict, out_dir: str, spec: VecIndexSpec, appending: bool = False) -> None:
    """Format-stamp gate: stale dirs fail with a rebuild message instead of
    an opaque read error on a column the old layout lacks."""
    if p.get("format") != spec.format_version:
        tail = " before appending generations" if appending else ""
        raise ValueError(
            f"{spec.kind} index at {out_dir} is format {p.get('format')} "
            f"(current {spec.format_version}); rebuild with {spec.builder}{tail}"
        )


def commit_vectors(rows: DataFrame, out_dir: str, spec: VecIndexSpec, mode: str = "overwrite") -> None:
    """Write the vectors table in the two-level pruning layout every probe
    relies on: one directory per (gen, ``spec.part_col``) — co-partitioned,
    so one file per directory — with rows sorted by ``spec.sort_col`` inside
    each file, so a probe prunes directories first, then row groups."""
    from ..sources.tables import commit

    commit(rows, out_dir, "vectors", mode=mode,
           partition_by=["gen", spec.part_col], repartition_by=[spec.part_col],
           sort_by=[spec.sort_col], row_group_bytes=VECTORS_ROW_GROUP_BYTES)


def fill(family, emb: DataFrame, out_dir: str, consts, p: dict, gen: int,
         id_col: str = "vec_id", vec_col: str = "embedding", mode: str = "overwrite") -> None:
    """Assign ``emb``'s vectors to the cells of ``family`` (a
    :class:`CellIndexReader` subclass) under its constants ``consts`` and
    commit them as generation ``gen``: a build fills gen 0, a sync
    appends ``next_gen``. ``p``: the index params."""
    rows = emb.select(id_col, vec_col).mapInPandas(
        family._fill_fn(consts, p, id_col, vec_col, gen),
        schema=rows_ddl(family._spec, p["vec_type"], p.get("quantize", "none")),
    )
    commit_vectors(rows, out_dir, family._spec, mode=mode)


def sync(family, new_emb: DataFrame, out_dir: str, src_tag: str,
         id_col: str = "vec_id", vec_col: str = "embedding") -> bool:
    """Append a NEW vector batch to an index of ``family`` (a
    :class:`CellIndexReader` subclass) as its next
    generation, under the index's FIXED constants (planes; centroids and
    quantizer — never retrained, as FAISS `index fill` on a trained index).
    The crash-replay contract: ``src_tag`` is the batch's content identity
    and a tag already recorded in the params is a no-op (replay of a
    committed batch), an EMPTY batch never consumes the tag (its real
    content may arrive later under the same identity), NULL vectors and
    dimension mismatches fail loudly, and orphaned generations (appended,
    then crashed before the params marker) are scrubbed before re-appending,
    so replays converge. The constants come from the params and the
    index's own tables; no reader is attached. Returns True if a generation
    was appended."""
    spec = family._spec
    p = read_params(out_dir, spec)
    check_format(p, out_dir, spec, appending=True)
    if src_tag in p["merged_srcs"]:
        return False  # replay of an already-committed batch
    first = new_emb.select(vec_col).first()
    if first is None:
        return False  # empty batch must not consume the tag
    if first[0] is None:
        raise ValueError(
            f"sync_{spec.kind.lower()}_index: batch has a NULL {vec_col} — "
            "clean the delivery before syncing"
        )
    if len(first[0]) != int(p["dim"]):
        raise ValueError(
            f"sync_{spec.kind.lower()}_index: batch dimension {len(first[0])} "
            f"!= index dimension {p['dim']} — wrong embeddings table for "
            "this index"
        )
    next_gen = int(p["next_gen"])
    scrub_orphan_generations(out_dir, "vectors", next_gen)
    consts = family._constants(new_emb.sparkSession, out_dir, p)
    fill(family, new_emb, out_dir, consts, p, next_gen, id_col, vec_col, mode="append")
    p["merged_srcs"] = p["merged_srcs"] + [src_tag]
    p["next_gen"] = next_gen + 1
    write_params(out_dir, spec, p)  # marker LAST
    return True


def compact_generations(spark, out_dir: str, spec: VecIndexSpec) -> int:
    """Fold all generations back into gen=0: same rows, same cells/buckets,
    one generation of directories afterwards, crash-atomic via the facade
    swap. ``merged_srcs`` is RETAINED — every folded batch is still merged,
    so its tag must keep no-opping on replay — and only ``next_gen``
    resets. Orphaned generations are scrubbed FIRST (folding one in would
    make it a permanent untracked batch that replay then duplicates).

    Single-writer maintenance operation: a probe running concurrently from
    an already-attached reader can hit FileNotFound mid-scan and must
    re-open; the crash window between the swap and the params rewrite is
    benign (old tags still no-op, a new sync appends past the stale
    next_gen without touching gen=0). Returns the generations folded."""
    p = read_params(out_dir, spec)
    check_format(p, out_dir, spec)
    n_gens = int(p["next_gen"])
    if n_gens <= 1:
        return 0  # single generation — nothing to fold
    scrub_orphan_generations(out_dir, "vectors", n_gens)
    folded = read_vectors(spark, out_dir, spec, p).withColumn("gen", F.lit(0).cast("int"))
    commit_vectors(folded, out_dir, spec)
    p["next_gen"] = 1
    write_params(out_dir, spec, p)
    return n_gens


class Staleness:
    """The one reader staleness protocol (:class:`CellIndexReader` and the
    text ``plans/query.IndexReader``): the params file at ``_params_file``
    is rewritten LAST by every sync/tune/compaction, so its (mtime_ns, size)
    is a complete change signal — one cheap stat() per query, re-``_attach``
    on change (table handles must be re-created too: a DataFrame's file
    index is frozen at read time, so a new gen=G dir is invisible to old
    handles). ``_attach`` records the signature it attached at in ``_sig``."""

    _params_file: str
    _sig: tuple[int, int] | None

    def _signature(self) -> tuple[int, int]:
        st = os.stat(self._params_file)
        return (st.st_mtime_ns, st.st_size)

    def _refresh_if_stale(self) -> None:
        if self._signature() != self._sig:
            self._attach()


def raw_matrix(pdf) -> np.ndarray:
    """Candidate batch -> float64 matrix of its stored ``embedding`` column
    (exact widening from float32 storage)."""
    return np.stack([np.asarray(x, dtype=np.float64) for x in pdf["embedding"]])


class CellIndexReader(Staleness):
    """Long-lived handle on a persisted vector index — the vector twin of
    plans/query.IndexReader: params, the family's constants (plane matrix or
    centroids + quantizer) and the vectors table handle are cached
    driver-side and re-attached when a sync/tune/compaction rewrites the
    params marker (one cheap stat() per query), so repeated probes pay zero
    re-listing and zero params I/O.

    One query path serves both families. Each query picks its cells
    (:meth:`_probe`); the scan is pruned to the union of the probed cells —
    directories by ``spec.part_col``, then row groups by the pushed
    ``spec.sort_col`` predicate — and each candidate batch is scored against
    every query with a single (batch × dim)·(dim × q) float64 GEMM. Rows fan
    out only to the queries whose probe set holds the row's cell, so every
    query sees exactly its own candidates: exact cosine within the probed
    cells, rounded to 6 decimals (GEMM ≡ sequential-SQL dot products at that
    rounding). ``topk`` ranks one query with a plain TakeOrderedAndProject;
    ``topk_many`` ranks a query set in one job with a per-query window.

    Subclasses set ``_spec``, ``knob`` (the probe-width keyword that
    :func:`tune` sweeps and records) and ``payload_col``, and supply the
    hooks :meth:`_constants` and :meth:`_fill_fn` (static: :func:`sync`
    uses them without attaching a reader), :meth:`_load_constants`,
    :meth:`_probe` (its keyword arguments are the family's probe knobs,
    passed through ``topk``/``topk_many``), :meth:`_n_cells`,
    :meth:`_groups_of`, :meth:`_tune_widths` and, for coded payloads,
    :meth:`_decoder`.
    """

    _spec: VecIndexSpec
    knob: str
    payload_col = "embedding"

    def __init__(self, spark, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._params_file = params_path(index_dir, self._spec)
        self._attach()

    def _attach(self) -> None:
        self._sig = self._signature()
        self.params = read_params(self.index_dir, self._spec)
        check_format(self.params, self.index_dir, self._spec)
        self._load_constants()
        # handle re-created on staleness: a DataFrame's file index is frozen
        # at read time, so a new gen=G dir is invisible to old handles
        self.vectors = read_vectors(self.spark, self.index_dir, self._spec, self.params)

    # ---- family hooks ----
    @staticmethod
    def _constants(spark, index_dir: str, params: dict):
        """The family's fixed constants (planes; centroids + quantizer), as
        the params and the index's own tables define them."""
        raise NotImplementedError

    @staticmethod
    def _fill_fn(consts, params: dict, id_col: str, vec_col: str, gen: int):
        """-> the mapInPandas body assigning (id_col, vec_col) batches to
        cells: rows of :func:`rows_ddl` at generation ``gen``."""
        raise NotImplementedError

    def _load_constants(self) -> None:
        """Set the reader's constants from :meth:`_constants`."""
        raise NotImplementedError

    def _probe(self, query_vec, **knobs) -> list[int]:
        """The cells one query probes, nearest first."""
        raise NotImplementedError

    def _n_cells(self) -> int:
        raise NotImplementedError

    def _groups_of(self, cells: np.ndarray) -> np.ndarray:
        """cell ids -> their ``spec.part_col`` directory keys."""
        raise NotImplementedError

    def _tune_widths(self) -> list[int]:
        """The ``knob`` values :func:`tune` sweeps, ascending; the last one
        probes every cell (the exhaustive scan)."""
        raise NotImplementedError

    def _decoder(self):
        """-> batch -> float64 matrix. A standalone function (only numpy
        arrays captured), so scoring UDFs never pickle a reader/session."""
        return raw_matrix

    # ---- the one query path ----
    def topk(self, query_vec, k: int = 10, **knobs) -> DataFrame:
        """-> (vec_id, cos) top k by (cos DESC, vec_id ASC): one query,
        ranked by a TakeOrderedAndProject — no window, no exchange."""
        return (
            self._scored({0: query_vec}, knobs)
            .select("vec_id", "cos")
            .orderBy(F.desc("cos"), F.asc("vec_id"))
            .limit(k)
        )

    def topk_many(self, queries: dict[int, list[float]], k: int = 10, **knobs) -> DataFrame:
        """-> (query_id, rank, vec_id, cos): top-k per query in ONE job,
        rank by (cos DESC, vec_id ASC) — identical results to per-query
        :meth:`topk` (tested), the analog of IndexReader.query_many."""
        from pyspark.sql import Window

        if not queries:
            return no_rows(self.vectors, "query_id int, rank int, vec_id long, cos double")
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
        return (
            self._scored(queries, knobs)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos")
        )

    def _scored(self, queries: dict[int, list[float]], knobs: dict) -> DataFrame:
        """-> (query_id, vec_id, cos) for every (query, candidate in one of
        its probed cells) pair."""
        from typing import Iterator

        import pandas as pd

        self._refresh_if_stale()
        qids = sorted(queries)
        probes = [self._probe(queries[qid], **knobs) for qid in qids]
        # cell -> indices of the queries probing it (probe sets are small:
        # |queries| × |probe| entries, driver-side only)
        by_cell: dict[int, list[int]] = {}
        for qi, cells in enumerate(probes):
            for c in cells:
                by_cell.setdefault(c, []).append(qi)
        cell_col = self._spec.sort_col
        # exhaustive-probe shortcut (r5 verdict #5): when EVERY query probes
        # every cell (the tune ground-truth pass), the In(cell,…) predicate
        # selects everything — skip it instead of shipping a cell-count-sized
        # filter, and fan every row out to all queries
        n_cells = self._n_cells()
        full_scan = all(len(cells) >= n_cells for cells in probes)
        # sorted-cell flat tables (r5 verdict #6): the per-batch fan-out is
        # np.searchsorted + flat gathers — no per-row Python dict lookups
        ckeys = np.asarray(sorted(by_cell), dtype=np.int64)
        if full_scan:
            cand = self.vectors
        else:
            # two-level pruning: part_col is the PartitionFilter (directories
            # listed/read), cell_col the pushed data predicate pruned by the
            # files' cell-sorted row-group stats
            groups = sorted({int(g) for g in self._groups_of(ckeys)})
            cand = self.vectors.filter(
                F.col(self._spec.part_col).isin(groups)
                & F.col(cell_col).isin(ckeys.tolist())
            )
        ccnt = np.asarray([len(by_cell[int(c)]) for c in ckeys], dtype=np.int64)
        coff = np.zeros(ckeys.shape[0] + 1, dtype=np.int64)
        np.cumsum(ccnt, out=coff[1:])
        cq = np.concatenate(
            [np.asarray(by_cell[int(c)], dtype=np.int64) for c in ckeys]
        ) if ckeys.shape[0] else np.empty(0, dtype=np.int64)
        qmat = np.stack([np.asarray(queries[qid], dtype=np.float64) for qid in qids])
        qnorm = np.linalg.norm(qmat, axis=1)
        qid_arr = np.asarray(qids, dtype=np.int64)
        n_q = len(qids)
        to_matrix = self._decoder()

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..codecs.multilist import concat_aranges

            for pdf in batches:
                if not len(pdf):
                    continue
                m = to_matrix(pdf)
                # ONE GEMM scores every candidate against every query …
                cos = (m @ qmat.T) / np.outer(np.linalg.norm(m, axis=1), qnorm)
                vids = pdf["vec_id"].to_numpy()
                nrows = vids.shape[0]
                if full_scan:
                    row_idx = np.repeat(np.arange(nrows, dtype=np.int64), n_q)
                    q_idx = np.tile(np.arange(n_q, dtype=np.int64), nrows)
                else:
                    # … then rows emit only for queries whose probe set
                    # contains the row's cell (per-query pruning preserved)
                    pos = np.searchsorted(ckeys, pdf[cell_col].to_numpy())
                    reps = ccnt[pos]
                    row_idx = np.repeat(np.arange(nrows, dtype=np.int64), reps)
                    q_idx = cq[np.repeat(coff[pos], reps) + concat_aranges(reps)]
                yield pd.DataFrame(
                    {
                        "query_id": qid_arr[q_idx].astype(np.int32),
                        "vec_id": vids[row_idx],
                        "cos": np.round(cos[row_idx, q_idx], 6),
                    }
                )

        return cand.select("vec_id", cell_col, self.payload_col).mapInPandas(
            score, schema="query_id int, vec_id long, cos double"
        )


def recall_sweep(reader: CellIndexReader, n_queries: int, k: int):
    """The tune step's sweep (the reference's nprobe tune, Makefile:31-32):
    recall@k of the reader's probe widths (:meth:`~CellIndexReader._tune_widths`)
    in ascending order against the widest one, which probes every cell and
    IS the exhaustive scan. Sample queries are
    the index's own ``n_queries`` lowest-vec_id vectors as the reader
    scores them (deterministic, no external data; a coded index's codes are
    reconstructed, so the sweep measures its quantizer's own geometry).
    Each width is ONE batched ``topk_many`` job over every sample query
    (rank-identical to per-query topk, tested), so the sweep runs
    O(len(widths)) jobs instead of n_queries × widths. Stops at the first
    width reaching recall 1.0 — guaranteed by the last width at the latest.
    -> (chosen width, {str(width): recall}, number of sample queries)."""
    import pandas as pd

    cols = [reader._spec.sort_col, reader.payload_col]
    rows = reader.vectors.select("vec_id", *cols).orderBy("vec_id").limit(n_queries).collect()
    m = reader._decoder()(pd.DataFrame({c: [r[c] for r in rows] for c in cols})) if rows else []
    # positional query ids (0..n-1), NOT raw vec_ids: topk_many's query_id
    # column is int32 and production vec_ids can exceed it
    qvecs = {i: [float(x) for x in m[i]] for i in range(len(rows))}

    def topk_sets(width: int) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {qid: set() for qid in qvecs}
        for row in reader.topk_many(qvecs, k=k, **{reader.knob: width}).collect():
            out[int(row["query_id"])].add(row["vec_id"])
        return out

    widths = reader._tune_widths()
    truth = topk_sets(widths[-1])
    total = sum(len(t) for t in truth.values())
    sweep: dict[str, float] = {}
    for width in widths:
        got = topk_sets(width)
        hits = sum(len(got[q] & truth[q]) for q in qvecs)
        recall = round(hits / total, 4) if total else 1.0
        sweep[str(width)] = recall
        if recall >= 1.0:
            break
    return width, sweep, len(qvecs)


def cell_stats(reader: CellIndexReader) -> dict:
    """Cell occupancy of the index — the probe-cost variance at scale: a
    probe reads its cells' rows, so a hot cell is a hot probe (the stat
    FAISS exposes as invlist sizes). One narrow groupBy over the cell
    column (no vector payload read); empty cells are ``_n_cells()`` minus
    the occupied ones, so neither family needs a cell roster.
    -> {cells, vectors, empty, min, max, avg, median_occupied,
    max_over_median}."""
    reader._refresh_if_stale()
    occ = np.asarray(
        [r["count"] for r in reader.vectors.groupBy(reader._spec.sort_col).count().collect()],
        dtype=np.int64,
    )
    n_cells, n = reader._n_cells(), int(occ.sum())
    med = float(np.median(occ)) if occ.size else 0.0
    return {
        "cells": n_cells,
        "vectors": n,
        "empty": n_cells - int(occ.size),
        "min": int(occ.min()) if occ.size == n_cells else 0,
        "max": int(occ.max()) if occ.size else 0,
        "avg": round(n / n_cells, 2),
        "median_occupied": med,
        "max_over_median": round(float(occ.max()) / med, 2) if med else None,
    }


def tune(reader: CellIndexReader, n_queries: int = 8, k: int = 10) -> dict:
    """Sweep the family's probe width and record recall@k against the
    exhaustive scan — the reference's `index tune` nprobe sweep
    (Makefile:31-32). :func:`recall_sweep` stops at the first width reaching
    recall 1.0 (guaranteed by the last). The chosen width (the reader's
    default ``knob`` from then on), the sweep (``tune_recall_at_k``) and the
    :func:`cell_stats` summary (``occupancy``: hot-cell skew, readable
    without running a job) land in the params. -> the new params."""
    reader._refresh_if_stale()
    p = reader.params
    chosen, sweep, n_q = recall_sweep(reader, n_queries, k)
    p[reader.knob] = int(chosen)
    p["tune_recall_at_k"] = {"k": k, "n_queries": n_q, "sweep": sweep}
    p["occupancy"] = cell_stats(reader)
    write_params(reader.index_dir, reader._spec, p)
    return p
