"""Seeded input generator for the benchmark.

``search`` inputs:

- ``transcripts_all/part=K/data.parquet``: the FIXTURES.md §1 transcripts
  schema (conv_id, turn_idx, role, text, tool, ts), rows in shuffled order.
  Each partition holds a fixed number of conversations and turns, with
  conv_ids in a contiguous range, so later partitions sort after earlier
  ones. The run copies partitions into its live source directory one sync at
  a time.
- ``queries.json``: the text query stream and the distinct-term count of the
  initial partitions.

Turn text is Zipf-drawn from a head vocabulary plus uniform draws from a
rare pool, whose size sets how many distinct indexed terms the corpus has.

``vectors`` inputs: ``base.parquet`` and ``sync_J.parquet``, clustered
float32 ``(vec_id long, embedding array<float>)`` sets with disjoint ids, and
``queries.npy`` drawn from the same mixture.

Outputs are cached under ``<cache>/v<GEN_VERSION>/<workload>-<seed>/``; the
``done`` marker is written last.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 5
_TOKEN = re.compile(r"[a-z0-9]+")

# stopword-like heads; 'user'/'assistant' also get injected as role tokens,
# so they are the hottest terms
_HEAD = (
    "the a of to and in is it for on with as at by from that this be are was "
    "user assistant tool query data spark index search table join scan row "
    "column agg filter sort merge batch stream key value hash part file block "
    "term doc score rank list time run task plan test code text turn role "
    "model token vector store read write build load save send recv open close"
).split()


@dataclass(frozen=True)
class TextSpec:
    convs_per_part: int  # initial partitions
    convs_per_sync: int  # partitions that text syncs add
    max_turns: int  # turns per conversation cycle through 1..max_turns
    zipf_terms: int  # Zipf-weighted vocabulary (head + tail)
    zipf_s: float
    rare_pool: int  # uniform pool of rare terms
    rare_per_turn: float  # Poisson mean of rare tokens per turn
    parts_initial: int
    parts_sync: int
    n_queries: int


@dataclass(frozen=True)
class VecSpec:
    dim: int
    clusters: int
    spread: float  # per-coordinate sigma around a N(0, 1) centre
    base: int
    per_sync: int
    syncs: int
    n_queries: int


SPECS = {
    # about 70,500 distinct terms in the 2 initial partitions, above IndexReader.DICT_CACHE_TERMS
    "search": TextSpec(
        convs_per_part=250, convs_per_sync=60, max_turns=15, zipf_terms=6000, zipf_s=1.07,
        rare_pool=150_000, rare_per_turn=23.0, parts_initial=2, parts_sync=8, n_queries=400,
    ),
    "vectors": VecSpec(dim=64, clusters=512, spread=0.35, base=12_000, per_sync=1000, syncs=20, n_queries=400),
}


def _vocab(spec: TextSpec) -> np.ndarray:
    tail = [f"w{i:05d}" for i in range(spec.zipf_terms - len(_HEAD))]
    return np.array(_HEAD + tail, dtype=object)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return w / w.sum()


def _partition(spec: TextSpec, seed: int, k: int, vocab, weights) -> pa.Table:
    rng = np.random.default_rng([seed, 1, k])
    n_convs = spec.convs_per_part if k < spec.parts_initial else spec.convs_per_sync
    first = (min(k, spec.parts_initial) * spec.convs_per_part
             + max(0, k - spec.parts_initial) * spec.convs_per_sync)
    # the same multiset of turn counts whatever the seed: every partition of
    # a size holds the same number of turns
    turns = rng.permutation(np.resize(np.arange(1, spec.max_turns + 1), n_convs))
    total = int(turns.sum())
    conv_idx = np.repeat(np.arange(n_convs) + first, turns)
    conv_ids = np.array([f"conv{i:08d}" for i in conv_idx], dtype=object)
    turn_idx = np.concatenate([np.arange(t) for t in turns]).astype(np.int32)

    role = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    is_tool = rng.random(total) < 0.05
    role[is_tool] = "tool"
    tool = np.full(total, None, dtype=object)
    tool[is_tool] = [f"tool{j}" for j in rng.integers(0, 8, int(is_tool.sum()))]

    n_zipf = rng.integers(2, 21, size=total)
    n_rare = rng.poisson(spec.rare_per_turn, size=total)
    zipf_tok = vocab[rng.choice(len(vocab), size=int(n_zipf.sum()), p=weights)]
    rare_tok = np.array(
        [f"r{i:06d}" for i in rng.integers(0, spec.rare_pool, int(n_rare.sum()))],
        dtype=object,
    )
    zo = np.concatenate([[0], np.cumsum(n_zipf)])
    ro = np.concatenate([[0], np.cumsum(n_rare)])
    texts = np.empty(total, dtype=object)
    for i in range(total):
        texts[i] = " ".join(list(zipf_tok[zo[i] : zo[i + 1]]) + list(rare_tok[ro[i] : ro[i + 1]]))
    inject = rng.random(total) < 0.30
    texts[inject] = [f"{r}: {t}" for r, t in zip(role[inject], texts[inject])]
    noise = rng.random(total) < 0.02
    texts[noise] = [t + " déjà—vu ☃" for t in texts[noise]]
    empty = rng.random(total) < 0.02
    texts[empty] = ""
    tokenless = rng.random(total) < 0.01  # non-empty text with no token
    texts[tokenless] = "—— ☃ !!!"

    base = np.datetime64("2024-01-01T00:00:00")
    ts = base + conv_idx.astype("timedelta64[h]") + turn_idx.astype("timedelta64[m]")
    order = rng.permutation(total)
    return pa.table(
        {
            "conv_id": pa.array(conv_ids[order], pa.string()),
            "turn_idx": pa.array(turn_idx[order], pa.int32()),
            "role": pa.array(role[order], pa.string()),
            "text": pa.array(texts[order], pa.string()),
            "tool": pa.array(tool[order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us")),
        }
    )


def _text_queries(spec: TextSpec, seed: int, vocab, weights) -> list[str]:
    """FIXTURES.md §2 shapes in a fixed cycle, with Zipf-drawn corpus terms,
    so hot terms repeat across the stream and rare terms mostly miss the
    reader's per-term lookup cache."""
    rng = np.random.default_rng([seed, 3])
    shapes = ["multi", "multi", "single", "multi", "hot", "single", "multi", "absent", "multi", "empty"]
    tail_w = _zipf_weights(len(vocab) - len(_HEAD), spec.zipf_s)
    out = []
    for i in range(spec.n_queries):
        shape = shapes[i % len(shapes)]
        if shape == "multi":
            terms = list(vocab[rng.choice(len(vocab), size=int(rng.integers(2, 5)), p=weights)])
            if rng.random() < 0.5:  # one rare-pool term
                terms.append(f"r{int(rng.integers(0, spec.rare_pool)):06d}")
            out.append(" ".join(terms))
        elif shape == "single":  # a tail term, Zipf rank past the head
            out.append(str(vocab[len(_HEAD) + int(rng.choice(len(tail_w), p=tail_w))]))
        elif shape == "hot":
            out.append("user assistant")
        elif shape == "absent":
            out.append(f"zzabsent{i} qqmissing")
        else:
            out.append("—— ☃ !!!")
    return out


def _write_vectors(path: str, ids: np.ndarray, m: np.ndarray) -> None:
    flat = pa.array(m.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, flat)
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)


def _gen_text(spec: TextSpec, seed: int, out: str) -> None:
    vocab = _vocab(spec)
    weights = _zipf_weights(len(vocab), spec.zipf_s)
    initial_terms: set[str] = set()
    for k in range(spec.parts_initial + spec.parts_sync):
        d = os.path.join(out, "transcripts_all", f"part={k}")
        os.makedirs(d)
        t = _partition(spec, seed, k, vocab, weights)
        pq.write_table(t, os.path.join(d, "data.parquet"))
        if k < spec.parts_initial:
            for text in t.column("text").to_pylist():
                initial_terms.update(_TOKEN.findall(text.lower()))
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump({"text": _text_queries(spec, seed, vocab, weights),
                   "initial_distinct_terms": len(initial_terms)}, f)


def _gen_vectors(spec: VecSpec, seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((spec.clusters, spec.dim))

    def draw(n: int) -> np.ndarray:
        # every cluster gets the same share, so list and bucket sizes vary
        # little from seed to seed
        c = rng.permutation(np.resize(np.arange(spec.clusters), n))
        return (centers[c] + spec.spread * rng.standard_normal((n, spec.dim))).astype(np.float32)

    os.makedirs(out)
    _write_vectors(os.path.join(out, "base.parquet"), np.arange(spec.base), draw(spec.base))
    for j in range(spec.syncs):
        first = spec.base + j * spec.per_sync
        _write_vectors(os.path.join(out, f"sync_{j}.parquet"),
                       np.arange(first, first + spec.per_sync), draw(spec.per_sync))
    np.save(os.path.join(out, "queries.npy"), draw(spec.n_queries))


def generate(cache_root: str, workload: str, seed: int) -> str:
    """-> directory holding the inputs for (workload, seed); generated once."""
    spec = SPECS[workload]
    out = os.path.join(cache_root, f"v{GEN_VERSION}", f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if isinstance(spec, TextSpec):
        _gen_text(spec, seed, out)
    else:
        _gen_vectors(spec, seed, os.path.join(out, "vectors"))
    with open(os.path.join(out, "done"), "w") as f:
        f.write(str(GEN_VERSION))
    _prune(os.path.dirname(out), keep=out)
    return out


def _prune(root: str, keep: str, max_entries: int = 12) -> None:
    """Bound the cache: drop the oldest entries beyond ``max_entries``."""
    entries = sorted((os.path.join(root, e) for e in os.listdir(root)), key=os.path.getmtime)
    for e in entries[:-max_entries]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
