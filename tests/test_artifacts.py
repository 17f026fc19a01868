"""Byte-level layout of written artifacts: the text index's dictionary
table is term_id-sorted in small row groups, and the package zip is
reproducible."""

import glob
import os
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dictionary_row_groups_sorted_by_term_id(spark, tmp_path):
    """IndexReader.lookup_terms prunes dictionary row groups with a pushed
    In(term_id,…) predicate; that reads O(query terms) rows only when each
    file's row groups cover ascending, disjoint term_id ranges and a
    vocabulary of this size spans more than one row group."""
    from abstracts_search_spark.plans.build import build_doc_index

    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}x{j}" for j in range(150))) for d in range(200)],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    build_doc_index(docs, ix, with_positions=False)
    files = glob.glob(os.path.join(ix, "dictionary", "**", "*.parquet"), recursive=True)
    assert files
    n_groups = 0
    n_terms = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("term_id")
        ranges = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            ranges.append((st.min, st.max))
            n_terms += md.row_group(g).num_rows
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo, ranges
        n_groups += md.num_row_groups
    assert n_terms == 200 * 150
    assert n_groups > 1


def test_package_zip_is_reproducible(tmp_path, monkeypatch):
    """Two copies of the package whose files carry different mtimes zip to
    the same bytes: the zip depends on paths and contents only."""
    import shutil

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    zips = []
    for i, stamp in enumerate((1_000_000_000, 1_700_000_000)):
        root = tmp_path / f"copy{i}"
        shutil.copytree(os.path.join(REPO, "abstracts_search_spark"),
                        root / "abstracts_search_spark",
                        ignore=shutil.ignore_patterns("__pycache__"))
        for dirpath, _, files in os.walk(root):
            for f in files:
                os.utime(os.path.join(dirpath, f), (stamp, stamp))
        monkeypatch.setattr(make_pyfiles, "_REPO", str(root))
        zips.append(make_pyfiles.make_zip(str(tmp_path / f"pkg{i}.zip")))
    with open(zips[0], "rb") as a, open(zips[1], "rb") as b:
        assert a.read() == b.read()
