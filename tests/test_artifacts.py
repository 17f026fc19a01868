"""Byte-level layout of written artifacts: the text index's dictionary
table is term_id-sorted in small row groups, and the package zip is
reproducible. Also source guards: the tokenizer's rule is applied in
Python only by functions/tokenize.py, and no applyInPandas body carries
type hints."""

import ast
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


def test_token_regex_only_in_tokenizer_module():
    """No package module but functions/tokenize.py touches a regex's
    findall / finditer or compiles a regex: every Python token stream comes from
    TokenizerSpec, so no inline tokenizer loop can come back."""
    pkg = os.path.join(REPO, "abstracts_search_spark")
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("functions", "tokenize.py"):
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            # attribute access, not only calls: `findall = rx.findall` counts
            if isinstance(node, ast.Attribute) and (
                node.attr in ("findall", "finditer")
                or (node.attr == "compile" and isinstance(node.value, ast.Name)
                    and node.value.id == "re")
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module == "re":
                names = {a.name for a in node.names}
                if names & {"compile", "findall", "finditer"}:
                    offenders.append(f"{rel}:{node.lineno} from re import {sorted(names)}")
    assert not offenders, offenders


def test_grouped_map_functions_carry_no_type_hints():
    """No package function whose first parameter is ``key`` (an
    applyInPandas body) is annotated: PySpark tries to infer the eval type
    from the hints, fails on the unannotated ``key`` and warns on every
    call."""
    pkg = os.path.join(REPO, "abstracts_search_spark")
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = node.args.posonlyargs + node.args.args
            if args and args[0].arg == "key" and (
                node.returns is not None or any(a.annotation is not None for a in args)
            ):
                offenders.append(f"{os.path.relpath(path, pkg)}:{node.lineno} {node.name}")
    assert not offenders, offenders


def test_posting_encoder_has_no_python_loop_or_pandas_udf():
    """The multi-list encoder builds its Arrow columns in whole-array passes
    (no ``for``/``while`` or comprehension in ``encode_posting_lists``), and
    both posting encoders are grouped Arrow UDFs (no ``applyInPandas`` in
    operators/postings.py)."""
    pkg = os.path.join(REPO, "abstracts_search_spark")
    with open(os.path.join(pkg, "codecs", "multilist.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    (enc,) = [n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "encode_posting_lists"]
    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp, ast.DictComp,
             ast.GeneratorExp)
    assert [n.lineno for n in ast.walk(enc) if isinstance(n, loops)] == []
    with open(os.path.join(pkg, "operators", "postings.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    calls = [n.lineno for n in ast.walk(tree)
             if isinstance(n, ast.Attribute) and n.attr == "applyInPandas"]
    assert calls == []
