import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from abstracts_search_spark.codecs.postings import (
    decode_block,
    decode_posting_list,
    encode_posting_list,
)


def _mk(n, seed=0):
    rng = np.random.default_rng(seed)
    docs = np.unique(rng.integers(0, n * 10, n))
    tfs = rng.integers(1, 50, docs.shape[0])
    dls = rng.integers(1, 3000, docs.shape[0])
    return docs, tfs, dls


def test_roundtrip_small_and_multiblock():
    for n in (1, 2, 127, 128, 129, 1000):
        docs, tfs, dls = _mk(n, seed=n)
        row = encode_posting_list(docs, tfs, dls)
        d2, t2, l2 = decode_posting_list(row)
        assert np.array_equal(d2, docs) and np.array_equal(t2, tfs) and np.array_equal(l2, dls)
        assert row["df"] == docs.shape[0]
        assert row["first_doc"] == docs[0] and row["last_doc"] == docs[-1]


def test_block_decode_matches_full():
    docs, tfs, dls = _mk(1000, seed=7)
    row = encode_posting_list(docs, tfs, dls)
    off = 0
    for b in range(row["n_blocks"]):
        bd, bt, bl = decode_block(row, b)
        n = bd.shape[0]
        assert np.array_equal(bd, docs[off : off + n])
        assert np.array_equal(bt, tfs[off : off + n])
        assert np.array_equal(bl, dls[off : off + n])
        off += n
    assert off == docs.shape[0]


def test_block_metadata():
    docs, tfs, dls = _mk(500, seed=3)
    row = encode_posting_list(docs, tfs, dls)
    for b in range(row["n_blocks"]):
        bd, bt, bl = decode_block(row, b)
        assert row["block_last"][b] == bd[-1]
        assert row["block_max_tf"][b] == bt.max()
        assert row["block_min_dl"][b] == bl.min()


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400))
def test_roundtrip_property(doc_set):
    docs = np.array(sorted(doc_set), dtype=np.int64)
    tfs = (docs % 17 + 1).astype(np.int64)
    dls = (docs % 999 + 1).astype(np.int64)
    row = encode_posting_list(docs, tfs, dls)
    d2, t2, l2 = decode_posting_list(row)
    assert np.array_equal(d2, docs) and np.array_equal(t2, tfs) and np.array_equal(l2, dls)


# ------------------------------------------------- positions stream (r4) ---


def _mk_pos(rng, tfs, doclen=4000):
    return np.concatenate(
        [np.sort(rng.choice(doclen, size=int(t), replace=False)) for t in tfs]
    )


@given(st.integers(1, 600), st.integers(0, 10_000))
@settings(max_examples=40, deadline=None)
def test_positions_roundtrip_property(n, seed):
    """Random lists: full decode AND per-block decode reproduce the exact
    positions stream; single-list and multi-list codecs agree byte-for-byte."""
    from abstracts_search_spark.codecs.multilist import (
        decode_posting_lists,
        encode_posting_lists,
    )
    from abstracts_search_spark.codecs.postings import (
        decode_block_positions,
        decode_positions,
    )

    rng = np.random.default_rng(seed)
    docs, tfs, dls = _mk(n, seed=seed)
    pos = _mk_pos(rng, tfs)
    row = encode_posting_list(docs, tfs, dls, positions=pos)
    d2, t2, _ = decode_posting_list(row)
    assert np.array_equal(decode_positions(row, t2), pos)
    off = 0
    for b in range(row["n_blocks"]):
        _, bt, _ = decode_block(row, b)
        got = decode_block_positions(row, b, bt)
        want = pos[off : off + int(bt.sum())]
        assert np.array_equal(got, want)
        off += int(bt.sum())

    enc = encode_posting_lists(
        docs, tfs, dls, np.array([0, docs.shape[0]]), positions=pos
    )
    assert enc["pos_bin"][0].as_py() == row["pos_bin"]
    assert np.array_equal(enc["pos_offs"][0].as_py(), row["pos_offs"])
    _, mt, _, _, mp = decode_posting_lists(
        enc["doc_bin"].to_pylist(), enc["tf_bin"].to_pylist(),
        enc["dl_bin"].to_pylist(), enc["df"].to_numpy(), pos_bins=enc["pos_bin"].to_pylist(),
    )
    assert np.array_equal(mp, pos)
