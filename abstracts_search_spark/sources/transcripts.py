"""Deterministic synthetic `transcripts` fixture (FIXTURES.md §1-2).

Shape fixed by BASELINE.json input_hint:
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``. Partition column ``part`` (crc32(conv_id) % P)
is the unit of incremental build + lineage — the analog of the reference's
``events/updated_date=%`` partitions (/root/reference/Makefile:57-66).

Same (seed, scale) → byte-identical content (numpy Generator is stable).
Generated with numpy + pyarrow only, no Spark, no wall-clock.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# the source as read back: its data columns, then the ``part`` directories
TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, part int"
)


@dataclass(frozen=True)
class Scale:
    n_convs: int
    n_parts: int


SCALES = {
    "tiny": Scale(n_convs=20, n_parts=2),
    "small": Scale(n_convs=500, n_parts=4),
    "bench": Scale(n_convs=20_000, n_parts=16),
    "bench4x": Scale(n_convs=80_000, n_parts=32),
    "bench16x": Scale(n_convs=320_000, n_parts=64),
}

# ~200 common heads get Zipf-weighted high mass (hot terms), the tail is
# term0000.. — the role tokens 'user'/'assistant' are additionally injected
# into the text itself so the skew case (north_star) exists inside documents.
_COMMON = (
    "the a of to and in is it for on with as at by from that this be are was "
    "user assistant tool query data spark index search table join scan row "
    "column agg filter sort merge batch stream key value hash part file block "
    "term doc score rank list time run task plan test code text turn role "
    "model token vector store read write build load save send recv open close "
    "error warn info debug trace start stop next prev first last min max sum "
    "count mean avg std var top k n b how what when where why which who can "
    "could should would may might must will shall do does did done make made "
    "get got set put new old big small fast slow high low long short good bad "
    "yes no not or if then else while for each all any some none more less "
    "one two three four five six seven eight nine ten"
).split()


def _vocab(n_tail: int = 4800) -> np.ndarray:
    return np.array(_COMMON + [f"term{i:04d}" for i in range(n_tail)], dtype=object)


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), 1.07)
    return w / w.sum()


def part_of(conv_id: str, n_parts: int) -> int:
    return zlib.crc32(conv_id.encode()) % n_parts


def gen_transcripts(out_dir: str, scale: str = "small", seed: int = 42) -> dict:
    """Generate and write the partitioned parquet fixture. Returns stats."""
    sc = SCALES[scale]
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    weights = _zipf_weights(len(vocab))

    turns_per_conv = rng.integers(1, 41, size=sc.n_convs)
    total = int(turns_per_conv.sum())
    conv_idx = np.repeat(np.arange(sc.n_convs), turns_per_conv)
    conv_ids = np.array([f"conv{i:08d}" for i in range(sc.n_convs)], dtype=object)[conv_idx]
    turn_idx = np.concatenate([np.arange(t) for t in turns_per_conv]).astype(np.int32)

    role = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
    is_tool = rng.random(total) < 0.05
    role[is_tool] = "tool"
    tool = np.full(total, None, dtype=object)
    tool[is_tool] = np.array([f"tool{j}" for j in rng.integers(0, 8, int(is_tool.sum()))], dtype=object)

    n_tokens = rng.integers(2, 81, size=total)
    flat = vocab[rng.choice(len(vocab), size=int(n_tokens.sum()), p=weights)]
    offsets = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(n_tokens, out=offsets[1:])
    texts = np.empty(total, dtype=object)
    for i in range(total):
        texts[i] = " ".join(flat[offsets[i] : offsets[i + 1]])
    # role tokens injected as text (hot/skewed terms), rare unique terms, a few
    # empty texts and some non-ASCII noise (tokenizer must ignore it).
    inject = rng.random(total) < 0.30
    texts[inject] = [f"{r}: {t}" for r, t in zip(role[inject], texts[inject])]
    uniq = rng.random(total) < 0.01
    texts[uniq] = [f"{t} uniq{i:07d}" for i, t in zip(np.flatnonzero(uniq), texts[uniq])]
    noise = rng.random(total) < 0.02
    texts[noise] = [t + " déjà—vu ☃" for t in texts[noise]]
    empty = rng.random(total) < 0.02
    texts[empty] = ""

    base = np.datetime64("2024-01-01T00:00:00")
    ts = base + conv_idx.astype("timedelta64[h]") + turn_idx.astype("timedelta64[m]")

    order = rng.permutation(total)  # shuffled row order: exercises stable re-ordering
    part = np.array([part_of(c, sc.n_parts) for c in conv_ids], dtype=np.int32)

    table = pa.table(
        {
            "conv_id": pa.array(conv_ids[order], pa.string()),
            "turn_idx": pa.array(turn_idx[order], pa.int32()),
            "role": pa.array(role[order], pa.string()),
            "text": pa.array(texts[order], pa.string()),
            "tool": pa.array(tool[order], pa.string()),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "part": pa.array(part[order], pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for p in range(sc.n_parts):
        sub = table.filter(pa.compute.equal(table["part"], p)).drop_columns(["part"])
        pdir = os.path.join(out_dir, f"part={p}")
        os.makedirs(pdir, exist_ok=True)
        pq.write_table(sub, os.path.join(pdir, "data.parquet"), row_group_size=65_536)
    return {"n_convs": sc.n_convs, "n_turns": total, "n_parts": sc.n_parts}


def gen_queries(seed: int = 42, n: int = 50) -> list[tuple[int, str]]:
    """Reference query set (FIXTURES.md §2): seeded mix of shapes."""
    rng = np.random.default_rng(seed + 1)
    vocab = _vocab()
    out: list[tuple[int, str]] = []
    for qid in range(n):
        kind = qid % 5
        if kind == 0:  # single rare term
            out.append((qid, str(vocab[rng.integers(2000, len(vocab))])))
        elif kind == 1:  # multi-term
            k = int(rng.integers(2, 6))
            out.append((qid, " ".join(vocab[rng.integers(0, len(vocab), k)])))
        elif kind == 2:  # hot-term-only
            out.append((qid, "user assistant"))
        elif kind == 3:  # absent from corpus
            out.append((qid, f"zzzabsent{qid} qqqmissing"))
        else:  # empty after tokenization
            out.append((qid, "—— ☃ !!!"))
    return out


def load_transcripts(spark, path: str, parts: list[int] | None = None):
    """Read the partitioned fixture, or only its ``parts``; `part` comes back
    as a partition column. The declared schema spares the read a Spark job
    that infers it from a parquet footer."""
    reader = spark.read.schema(TRANSCRIPTS_SCHEMA).option("basePath", path)
    if parts is None:
        return reader.parquet(path)
    return reader.parquet(*[os.path.join(path, f"part={p}") for p in parts])
