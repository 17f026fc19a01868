"""Byte-level layout of written artifacts: the text index's dictionary
table is term_id-sorted in small row groups (merged and compacted), IVF
vectors files are list-sorted, and the package zip is reproducible. Also
source guards: the tokenizer's rule is applied in Python only by
functions/tokenize.py, no applyInPandas body carries type hints, and the
vector lifecycle is defined once."""

import ast
import glob
import os
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sorted_files(pattern: str, col: str) -> list[list]:
    """-> per parquet file under ``pattern``: its ``col`` values in row
    order, each file asserted ascending."""
    files = glob.glob(pattern, recursive=True)
    assert files
    out = []
    for f in files:
        vals = pq.read_table(f, columns=[col]).column(col).to_pylist()
        assert vals == sorted(vals), f
        out.append(vals)
    return out


def test_dictionary_row_groups_sorted_by_term_id(spark, tmp_path):
    """IndexReader.lookup_terms prunes dictionary row groups with a pushed
    In(term_id,…) predicate; that reads O(query terms) rows only when each
    file's row groups cover ascending, disjoint term_id ranges and a
    vocabulary of this size spans more than one row group — in a freshly
    merged index and in a compacted one (a gen-partitioned write). A
    vector probe prunes row groups by cell the same way, so every IVF
    ``vectors`` file is list-sorted, here with two lists per directory."""
    import numpy as np

    from abstracts_search_spark.operators.ivf import build_ivf_index
    from abstracts_search_spark.plans.build import build_doc_index, compact_index, ingest
    from abstracts_search_spark.sources.tables import generations

    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}x{j}" for j in range(150))) for d in range(200)],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    build_doc_index(docs, ix, with_positions=False)
    for compacted in (False, True):
        if compacted:  # a second generation, then fold both into gen=0
            more = spark.createDataFrame(
                [(1000, "1000", "one more doc", 1, 1, 3)],
                "doc_id long, conv_id string, document string, n_turns long, "
                "src_part int, doclen int",
            )
            ingest(more, ix, [1], buckets=64, shard_docs=1 << 14, positions=False,
                   tokenizer="ascii")
            compact_index(spark, ix)
            assert generations(ix, "dictionary") == [0]
        pattern = os.path.join(ix, "dictionary", "**", "*.parquet")
        n_groups = 0
        n_terms = 0
        for f in glob.glob(pattern, recursive=True):
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
        assert n_terms == 200 * 150 + 3 * compacted
        assert n_groups > 1
        _sorted_files(pattern, "term_id")

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(1200)],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "ivf")
    build_ivf_index(emb, out, n_lists=512, iters=1)  # 256 directories
    lists = _sorted_files(os.path.join(out, "vectors", "**", "*.parquet"), "list")
    assert max(len(set(v)) for v in lists) > 1


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


def test_vector_lifecycle_defined_once():
    """The vector families describe themselves through their reader classes
    only: operators/similarity.py and operators/ivf.py define no tune,
    compaction, stats or one-shot top-k function of their own — those run
    once, in operators/vecindex.py, for both."""
    pkg = os.path.join(REPO, "abstracts_search_spark", "operators")
    offenders = []
    for name in ("similarity.py", "ivf.py"):
        with open(os.path.join(pkg, name), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                node.name.startswith(("tune_", "compact_"))
                or node.name.endswith(("_stats", "_index_topk"))
            ):
                offenders.append(f"{name}:{node.lineno} {node.name}")
    assert not offenders, offenders
