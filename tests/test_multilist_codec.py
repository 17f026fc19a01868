"""Multi-list vectorized codec ≡ single-list codec, bit for bit."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from abstracts_search_spark.codecs.multilist import (
    concat_aranges,
    decode_posting_lists,
    encode_posting_lists,
    split_lists,
)
from abstracts_search_spark.codecs.postings import encode_posting_list


def test_concat_aranges():
    assert concat_aranges(np.array([3, 2, 1])).tolist() == [0, 1, 2, 0, 1, 0]
    assert concat_aranges(np.array([], dtype=np.int64)).size == 0


def _mk_lists(seed, n_lists, max_len):
    rng = np.random.default_rng(seed)
    docs_l, tfs_l, dls_l = [], [], []
    for _ in range(n_lists):
        n = int(rng.integers(1, max_len))
        docs = np.unique(rng.integers(0, max_len * 8, n))
        tfs = rng.integers(1, 40, docs.shape[0])
        dls = rng.integers(1, 2000, docs.shape[0])
        docs_l.append(docs)
        tfs_l.append(tfs)
        dls_l.append(dls)
    return docs_l, tfs_l, dls_l


def test_multilist_matches_single_bitwise():
    docs_l, tfs_l, dls_l = _mk_lists(7, 50, 400)
    bounds = np.concatenate([[0], np.cumsum([len(d) for d in docs_l])])
    enc = encode_posting_lists(
        np.concatenate(docs_l), np.concatenate(tfs_l), np.concatenate(dls_l), bounds
    )
    for i in range(len(docs_l)):
        single = encode_posting_list(docs_l[i], tfs_l[i], dls_l[i])
        assert enc["doc_bin"][i].as_py() == single["doc_bin"], f"doc_bin list {i}"
        assert enc["tf_bin"][i].as_py() == single["tf_bin"]
        assert enc["dl_bin"][i].as_py() == single["dl_bin"]
        assert enc["block_last"][i].as_py() == single["block_last"].tolist()
        assert enc["block_max_tf"][i].as_py() == single["block_max_tf"].tolist()
        assert enc["block_min_dl"][i].as_py() == single["block_min_dl"].tolist()
        assert enc["doc_offs"][i].as_py() == single["doc_offs"].tolist()
        assert enc["tf_offs"][i].as_py() == single["tf_offs"].tolist()
        assert enc["dl_offs"][i].as_py() == single["dl_offs"].tolist()
        assert enc["df"][i].as_py() == single["df"]
        assert enc["n_blocks"][i].as_py() == single["n_blocks"]


def test_multilist_decode_roundtrip():
    docs_l, tfs_l, dls_l = _mk_lists(11, 30, 500)
    bounds = np.concatenate([[0], np.cumsum([len(d) for d in docs_l])])
    enc = encode_posting_lists(
        np.concatenate(docs_l), np.concatenate(tfs_l), np.concatenate(dls_l), bounds
    )
    docs, tfs, dls, b2 = decode_posting_lists(
        enc["doc_bin"].to_pylist(),
        enc["tf_bin"].to_pylist(),
        enc["dl_bin"].to_pylist(),
        enc["df"].to_numpy(),
    )
    assert b2.tolist() == bounds.tolist()
    assert np.array_equal(docs, np.concatenate(docs_l))
    assert np.array_equal(tfs, np.concatenate(tfs_l))
    assert np.array_equal(dls, np.concatenate(dls_l))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=300),
        min_size=1,
        max_size=12,
    )
)
def test_multilist_roundtrip_property(doc_sets):
    docs_l = [np.array(sorted(s), dtype=np.int64) for s in doc_sets]
    tfs_l = [(d % 9 + 1) for d in docs_l]
    dls_l = [(d % 777 + 1) for d in docs_l]
    bounds = np.concatenate([[0], np.cumsum([len(d) for d in docs_l])])
    enc = encode_posting_lists(
        np.concatenate(docs_l), np.concatenate(tfs_l), np.concatenate(dls_l), bounds
    )
    docs, tfs, dls, _ = decode_posting_lists(
        enc["doc_bin"].to_pylist(),
        enc["tf_bin"].to_pylist(),
        enc["dl_bin"].to_pylist(),
        enc["df"].to_numpy(),
    )
    assert np.array_equal(docs, np.concatenate(docs_l))
    assert np.array_equal(tfs, np.concatenate(tfs_l))
    assert np.array_equal(dls, np.concatenate(dls_l))


def test_split_lists_bounds_every_chunk():
    """Cuts fall on list boundaries, every chunk of more than one list stays
    within the worst-case byte bound (10 bytes per value, Σtf values), and
    a list alone over the bound is a chunk of its own."""
    tfs = np.array([1, 2, 1, 5, 1, 1, 3, 2, 1, 1], dtype=np.int64)
    bounds = np.array([0, 2, 3, 6, 7, 10])  # Σtf per list: 3, 1, 7, 3, 4
    assert split_lists(bounds, tfs) == [0, 5]
    cuts = split_lists(bounds, tfs, max_bytes=40)
    assert cuts == [0, 2, 3, 4, 5]
    occ = np.concatenate([[0], np.cumsum(tfs)])[bounds]
    for t0, t1 in zip(cuts[:-1], cuts[1:]):
        assert t1 - t0 == 1 or (occ[t1] - occ[t0]) * 10 <= 40
    assert split_lists(bounds, tfs, max_bytes=5) == [0, 1, 2, 3, 4, 5]


def test_split_group_encodes_as_one(spark):
    """A group cut into several record batches (a small byte limit stands
    in for Arrow's 2 GiB offset limit) yields exactly the rows of the uncut
    group, positions included."""
    from abstracts_search_spark.operators.postings import (
        POSTINGS_SCHEMA,
        _arrow_schema,
        _encoded_batches,
    )

    docs_l, tfs_l, dls_l = _mk_lists(5, 40, 300)
    tids = np.repeat(np.arange(40, dtype=np.int64) * 7919, [len(d) for d in docs_l])
    tfs = np.concatenate(tfs_l)
    rng = np.random.default_rng(3)
    pos = np.concatenate([np.sort(rng.choice(4000, size=int(t), replace=False)) for t in tfs])
    schema = _arrow_schema(POSTINGS_SCHEMA)
    args = (tids, np.concatenate(docs_l), tfs, np.concatenate(dls_l), schema,
            {"bucket": 3, "shard": 1})
    whole = list(_encoded_batches(*args, pos=pos))
    split = list(_encoded_batches(*args, pos=pos, max_bytes=20_000))
    assert len(whole) == 1 and len(split) > 3
    assert all(b.schema == schema for b in split)
    assert pa.Table.from_batches(split).to_pylist() == pa.Table.from_batches(whole).to_pylist()
    assert whole[0].num_rows == 40
