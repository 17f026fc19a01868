"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship indexed BM25 pipeline on sf0.001.
`queries()` exposes one entry per implemented operator family (SURVEY.md §2 +
the training-data-pipeline extensions); `oracle_sql()` gives the DuckDB
equivalent for every SQL-expressible one. Cross-engine determinism rules:
md5 hex strings for all hashing, floats rounded to 6 decimals and used as the
sort key for any LIMIT, one shared tokenizer (functions/tokenize.py), count
casts to BIGINT on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from abstracts_search_spark import B_BM25, K1
from abstracts_search_spark.functions.tokenize import get_tokenizer, tokens_expr
from abstracts_search_spark.functions.uninvert import invert_expr, uninvert_expr
from abstracts_search_spark.operators import dedup, ivf, similarity, textstats
from abstracts_search_spark.operators.bm25_brute import bm25_score_scan, doc_tokens
from abstracts_search_spark.operators.docids import assign_doc_ids
from abstracts_search_spark.operators.multimodal import decode_features, frame_sample
from abstracts_search_spark.plans.build import build_doc_index
from abstracts_search_spark.plans.query import IndexReader
from abstracts_search_spark.sources.transcripts import gen_transcripts

_REPO = os.path.dirname(os.path.abspath(__file__))
FIX_DIR = os.path.join(_REPO, "data", "fixtures", "transcripts_small")
MEDIA_FIX = os.path.join(_REPO, "data", "fixtures", "media_small", "media.parquet")


def _ensure_shipped(spark: SparkSession) -> SparkSession:
    """Make the engine importable in executor Python workers even when the
    caller created the SparkSession (the driver harness does): ship the
    package zip via addPyFile once per session. Equivalent to
    `spark-submit --py-files dist/abstracts_search_spark.zip`."""
    sc = spark.sparkContext
    if not getattr(sc, "_ass_shipped", False):
        sys.path.insert(0, os.path.join(_REPO, "scripts"))
        from make_pyfiles import make_zip

        sc.addPyFile(make_zip())
        sc._ass_shipped = True
    return spark

BM25_QUERY = "spark query join"
BM25_HOT_QUERY = "table row scan value"
ANN_K = 10
_TOK = get_tokenizer("ascii").duckdb_sql  # .format(col=...)
_UTOK = get_tokenizer("unicode").duckdb_sql  # the any-script variant (F9b)


def _ensure_fixture() -> str:
    if not os.path.exists(os.path.join(FIX_DIR, "part=0")):
        gen_transcripts(FIX_DIR, scale="small", seed=42)
    if not os.path.exists(MEDIA_FIX):
        from abstracts_search_spark.operators.multimodal import gen_media_fixture

        gen_media_fixture(MEDIA_FIX)
    return FIX_DIR


_ensure_fixture()


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    return _query_vecs(spark, sf_dir, [0])[0]


def _query_vecs(spark: SparkSession, sf_dir: str, vec_ids: list[int]) -> dict[int, list[float]]:
    """Query vectors read straight from the parquet input with pyarrow
    (predicate-pushed row-group read) — fetching a handful of rows is
    driver-side metadata work, not a Spark job (optimization r6: the old
    filter+collect paid a full job's scheduling latency before every vector
    query). Recomputed from the input on every call — nothing is memoized.
    Float32 storage widens to float64 exactly, as the collect path did."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "in", list(vec_ids))],
    )
    ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    return {int(i): [float(x) for x in e] for i, e in zip(ids, embs)}


# ---------------------------------------------------------------- entry ----


_READERS: dict[tuple[int, str], IndexReader] = {}


def _doc_index_reader(spark: SparkSession, sf_dir: str) -> IndexReader:
    """Build-once / query-many: the documents index for `sf_dir` is built into
    a persistent cache dir on first use (params.json, written last, is the
    completeness marker) and every subsequent query goes through IndexReader —
    bucket partition pruning + pushed term predicates, no per-call rebuild."""
    import json
    import shutil

    from abstracts_search_spark.plans.build import INDEX_FORMAT

    tag = os.path.normpath(sf_dir).strip(os.sep).replace(os.sep, "_")
    idx = os.path.join(_REPO, "data", "cache", f"docindex_{tag}")
    params_path = os.path.join(idx, "params.json")
    stale = False
    if os.path.exists(params_path):
        with open(params_path) as f:
            stale = json.load(f).get("format") != INDEX_FORMAT
    if stale:
        shutil.rmtree(idx, ignore_errors=True)
    if not os.path.exists(params_path) or stale:
        os.makedirs(idx, exist_ok=True)
        build_doc_index(_load(spark, sf_dir, "documents"), idx)
    key = (id(spark), idx)
    reader = _READERS.get(key)
    if reader is None or reader.spark is not spark:
        reader = IndexReader(spark, idx)
        _READERS[key] = reader
    return reader


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 through the PERSISTED index over sf0.001
    documents (tokenize → dictionary lookup → bucket-pruned postings scan →
    per-shard block-max WAND → TakeOrderedAndProject → hydration join)."""
    _ensure_shipped(spark)
    return _doc_index_reader(spark, "/root/testdata/sf0.001").query(BM25_QUERY, k=10)


# -------------------------------------------------------------- queries ----


def _q_lang_filter(spark, sf_dir):
    # P2 language-filter semantics (reference oa_jsonl.c:380-385)
    return _load(spark, sf_dir, "documents").filter(
        F.col("lang").isNull() | (F.col("lang") == "en")
    ).select("doc_id", "lang", "source", "n_chars")


def _q_tokenize_tf(spark, sf_dir):
    return doc_tokens(_load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id").select(
        "doc_id", "term", "tf"
    )


def _q_tokenize_tf_unicode(spark, sf_dir):
    # F9b: the unicode tokenizer variant through the driver gate — same
    # shape as tokenize_tf but with the any-script token contract (the
    # oracle uses the matching DuckDB RE2 template). On the ASCII-dominant
    # testdata it must agree with DuckDB token-for-token, which pins the
    # template pair (Catalyst [\p{L}\p{N}]+ vs RE2 [\pL\pN]+) cross-engine.
    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(tokens_expr("text", tokenizer="unicode")).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def _q_term_df(spark, sf_dir):
    toks = doc_tokens(_load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")
    return toks.groupBy("term").agg(F.count("*").alias("df"))


def _q_corpus_stats(spark, sf_dir):
    toks = doc_tokens(_load(spark, sf_dir, "documents"), text_col="text", id_col="doc_id")
    return (
        toks.select("doc_id", "doclen")
        .distinct()
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("doclen"), 6).alias("avgdl"),
            F.sum("doclen").cast("long").alias("total_tokens"),
        )
    )


def _bm25_spark(spark, sf_dir, qtext):
    # two-scan brute BM25 (stats pass + local scoring pass, zero shuffles —
    # optimization r6); pinned to the numpy oracle (oracle_numpy.BM25Oracle)
    scores = bm25_score_scan(_load(spark, sf_dir, "documents"), qtext)
    return (
        scores.select("doc_id", F.round("score", 6).alias("score_r"))
        .orderBy(F.desc("score_r"), F.asc("doc_id"))
        .limit(10)
    )


def _q_bm25_topk(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, BM25_QUERY)


def _q_bm25_topk_hot(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, BM25_HOT_QUERY)


def _q_bm25_indexed(spark, sf_dir):
    out = _doc_index_reader(spark, sf_dir).query(BM25_QUERY, k=10)
    return out.select("doc_id", F.round("score", 6).alias("score_r"))


def _q_uninvert_roundtrip(spark, sf_dir):
    # invert text to map<word,positions>, then un-invert (oa_jsonl.c:232-325
    # semantics) — must reproduce the normalized token stream exactly
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", tokens_expr("text").alias("toks")
    )
    return docs.select(
        "doc_id", uninvert_expr(invert_expr("toks")).alias("normalized")
    )


def _q_doc_assembly(spark, sf_dir):
    t = spark.read.option("basePath", FIX_DIR).parquet(FIX_DIR)
    turns = t.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    return turns.groupBy("conv_id").agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s.getField("text"))).alias("document"),
        F.count("*").alias("n_turns"),
    )


def _q_doc_ids(spark, sf_dir):
    docs = _q_doc_assembly(spark, sf_dir)
    docs = docs.filter(F.size(tokens_expr("document")) > 0).select("conv_id")
    ids, _ = assign_doc_ids(docs, num_partitions=4)
    return ids


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dup_groups(_load(spark, sf_dir, "documents"))


def _q_jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(_load(spark, sf_dir, "documents"), top=20)


def _q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_load(spark, sf_dir, "documents"))


def _q_dedup_clusters(spark, sf_dir):
    # pairs -> transitive clusters -> canonical representative (the step
    # between LSH candidate pairs and an actual corpus drop-list)
    return dedup.dedup_clusters(_load(spark, sf_dir, "documents"))


def _q_documents_deduped(spark, sf_dir):
    # the drop-list APPLIED: corpus minus non-canonical near-dup cluster
    # members (left-anti join against the keep=0 set)
    docs = _load(spark, sf_dir, "documents")
    drop = dedup.dedup_clusters(docs).filter(F.col("keep") == 0).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id")


def _q_phrase_match(spark, sf_dir):
    # exact phrase search over the normalized token stream (pure Catalyst,
    # operators/phrase.py); mixed-case input exercises query normalization
    from abstracts_search_spark.operators.phrase import phrase_matches

    return phrase_matches(_load(spark, sf_dir, "documents"), "Merge SPARK", top=20)


def _q_phrase_match_indexed(spark, sf_dir):
    # the SCALE path: the same phrase through the persisted positional index
    # (dictionary lookup -> bucket-pruned, term-pushed postings scan ->
    # per-shard position intersection) — only the phrase terms' posting lists
    # are read, never the corpus. Same oracle as phrase_match.
    return _doc_index_reader(spark, sf_dir).phrase_query("Merge SPARK", k=20)


def _q_phrase_match_many(spark, sf_dir):
    # batched phrase search: ONE job for the phrase set, posting rows decoded
    # once per shard and shared across phrases (plans/query.phrase_query_many)
    return _doc_index_reader(spark, sf_dir).phrase_query_many(
        {1: "Merge SPARK", 2: "the data"}, k=20
    )


def _q_simhash(spark, sf_dir):
    return dedup.simhash64(_load(spark, sf_dir, "documents"))


def _q_ann_cosine(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=ANN_K)


def _cached_index_dir(
    prefix: str, sf_dir: str, params_file: str, current_format: int, build
) -> str:
    """Shared build-once / query-many cache protocol for every persisted
    vector index the driver queries use (mirrors _doc_index_reader): the
    index for `sf_dir` is built into a persistent cache dir on first use;
    its params json (written LAST by the builder) is the completeness
    marker, and a format-stamp mismatch triggers a rebuild. One
    implementation so the staleness dance cannot diverge per index kind."""
    import json
    import shutil

    tag = os.path.normpath(sf_dir).strip(os.sep).replace(os.sep, "_")
    idx = os.path.join(_REPO, "data", "cache", f"{prefix}_{tag}")
    params_path = os.path.join(idx, params_file)
    stale = False
    if os.path.exists(params_path):
        with open(params_path) as f:
            stale = json.load(f).get("format") != current_format
    if stale:
        shutil.rmtree(idx, ignore_errors=True)
    if not os.path.exists(params_path) or stale:
        os.makedirs(idx, exist_ok=True)
        build(idx)
    return idx


def _ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Persisted LSH ANN index for sf_dir; queries probe it with bucket
    PARTITION pruning instead of re-bucketing the corpus. n_planes pinned to
    the oracle's 8-plane literals (_ann_lsh_sql); production callers omit
    the pin (sized geometry: 16 planes = the reference's 65,536 lists at
    10^8+ vectors)."""
    from abstracts_search_spark.operators.similarity import (
        ANN_INDEX_FORMAT,
        build_ann_index,
    )

    return _cached_index_dir(
        "annindex", sf_dir, "ann_params.json", ANN_INDEX_FORMAT,
        lambda idx: build_ann_index(_load(spark, sf_dir, "embeddings"), idx, n_planes=8),
    )


def _q_ann_lsh(spark, sf_dir):
    # the SCALE path: probe the persisted bucket-partitioned ANN index
    # (partition pruning reads only the probed buckets' files; candidates
    # scored with one float64 GEMM per Arrow batch — no interpreted HOF
    # fold) — the rows of the oracle's SQL re-bucketing of the corpus.
    # The cached reader skips the per-open listing of the vectors table.
    return _ann_reader(spark, sf_dir).topk(
        _query_vec(spark, sf_dir), k=ANN_K, probe_hamming=1
    )


_ANN_READERS: dict[tuple[int, str], "similarity.AnnIndexReader"] = {}


def _ann_reader(spark: SparkSession, sf_dir: str):
    """Long-lived AnnIndexReader per (session, index) — repeated/batched
    probes reuse the cached params, plane matrix and table handle."""
    idx = _ann_index_dir(spark, sf_dir)
    key = (id(spark), idx)
    r = _ANN_READERS.get(key)
    if r is None or r.spark is not spark:
        r = similarity.AnnIndexReader(spark, idx)
        _ANN_READERS[key] = r
    return r


def _q_ann_lsh_many(spark, sf_dir):
    # batched ANN: THREE query vectors answered in ONE job — the scan is
    # pruned to the union of the queries' probe buckets and every candidate
    # batch is scored against all queries with a single GEMM
    # (AnnIndexReader.topk_many, the ANN analog of query_many)
    queries = _query_vecs(spark, sf_dir, [0, 1, 2])
    return _ann_reader(spark, sf_dir).topk_many(queries, k=ANN_K, probe_hamming=1)


IVF_N_LISTS = 8  # pinned to the oracle's unrolled CTE chain (prod: auto_n_lists)
IVF_ITERS = 2
IVF_NPROBE = 2


def _ivf_index_dir(spark: SparkSession, sf_dir: str, quantize: str = "none") -> str:
    """Persisted k-means IVF index for sf_dir (the trained twin of
    _ann_index_dir); ``quantize="sq8"`` selects the PQ32-analog coded
    sibling under its own cache prefix. Geometry pinned to the oracle's
    unrolled CTE chain (IVF_N_LISTS/IVF_ITERS)."""
    prefix = {"none": "ivfindex", "sq8": "ivfsq8index", "sq8r": "ivfsq8rindex"}[quantize]
    return _cached_index_dir(
        prefix, sf_dir, "ivf_params.json", ivf.IVF_INDEX_FORMAT,
        lambda idx: ivf.build_ivf_index(
            _load(spark, sf_dir, "embeddings"), idx,
            n_lists=IVF_N_LISTS, iters=IVF_ITERS, nprobe=IVF_NPROBE,
            quantize=quantize,
        ),
    )


def _ivf_sq8_index_dir(spark: SparkSession, sf_dir: str) -> str:
    return _ivf_index_dir(spark, sf_dir, quantize="sq8")


_IVF_READERS: dict[tuple[int, str], "ivf.IvfIndexReader"] = {}


def _ivf_reader(spark: SparkSession, sf_dir: str, quantize: str = "none"):
    idx = _ivf_index_dir(spark, sf_dir, quantize=quantize)
    key = (id(spark), idx)
    r = _IVF_READERS.get(key)
    if r is None or r.spark is not spark:
        r = ivf.IvfIndexReader(spark, idx)
        _IVF_READERS[key] = r
    return r


def _q_kmeans_assign(spark, sf_dir):
    # the trained IVF cell assignment (vec_id -> inverted list) — the output
    # of the reference's `index train` + fill steps (Makefile:24-25) as a
    # table; deterministic Lloyd under the round-6 contract (operators/ivf.py)
    return _ivf_reader(spark, sf_dir).assignments()


def _q_ivf_topk(spark, sf_dir):
    # trained-IVF probe: nprobe nearest k-means cells scanned (directory +
    # row-group pruned), exact GEMM cosine within the probed cells — the
    # data-ADAPTIVE counterpart of ann_lsh_topk's hashed cells
    return _ivf_reader(spark, sf_dir).topk(
        _query_vec(spark, sf_dir), k=ANN_K, nprobe=IVF_NPROBE
    )


def _q_ivf_topk_many(spark, sf_dir):
    # batched trained-IVF probe: three query vectors in ONE job — scan pruned
    # to the union of the queries' probe cells, one GEMM per candidate batch
    # against all queries (IvfIndexReader.topk_many, twin of the batched ANN)
    queries = _query_vecs(spark, sf_dir, [0, 1, 2])
    return _ivf_reader(spark, sf_dir).topk_many(queries, k=ANN_K, nprobe=IVF_NPROBE)


def _q_ivf_topk_sq8(spark, sf_dir):
    # quantized-storage IVF probe (the reference's PQ32 analog): candidates
    # are stored as uint8 SQ8 codes and scored asymmetrically — raw query
    # vs decoded reconstructions — so results differ from ivf_topk exactly
    # where quantization error moves a cosine; the oracle recomputes the
    # identical quantizer (corpus per-dim min/max) and decode in SQL
    return _ivf_reader(spark, sf_dir, quantize="sq8").topk(
        _query_vec(spark, sf_dir), k=ANN_K, nprobe=IVF_NPROBE
    )


def _q_ivf_topk_sq8r(spark, sf_dir):
    # residual-coded IVF probe (the true FAISS IVF-PQ shape: codes quantize
    # x − centroid[cell], reconstruction adds the centroid back) — same
    # asymmetric scoring, same exact SQL oracle with residual-derived bounds
    return _ivf_reader(spark, sf_dir, quantize="sq8r").topk(
        _query_vec(spark, sf_dir), k=ANN_K, nprobe=IVF_NPROBE
    )


def _q_embedding_dups(spark, sf_dir):
    return dedup.embedding_dup_pairs(_load(spark, sf_dir, "embeddings"), top=20)


def _q_embedding_dup_lsh(spark, sf_dir):
    return dedup.embedding_dup_lsh(_load(spark, sf_dir, "embeddings"), top=20)


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_load(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    return textstats.quality_score(_load(spark, sf_dir, "documents"))


def _q_token_counts(spark, sf_dir):
    return textstats.token_counts(_load(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_load(spark, sf_dir, "documents"))


def _q_media_features(spark, sf_dir):
    feats = decode_features(spark.read.parquet(MEDIA_FIX))
    return feats.select(
        "media_id",
        "kind",
        F.size("features").cast("long").alias("dim"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double")), 6).alias(
            "feat_sum"
        ),
    )


def _q_frame_sample(spark, sf_dir):
    return frame_sample(spark.read.parquet(MEDIA_FIX), every_ms=1000).select(
        "media_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _QUERIES.items()}


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "lang_filter": _q_lang_filter,
        "tokenize_tf": _q_tokenize_tf,
        "tokenize_tf_unicode": _q_tokenize_tf_unicode,
        "term_df": _q_term_df,
        "corpus_stats": _q_corpus_stats,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_hot": _q_bm25_topk_hot,
        "bm25_topk_indexed": _q_bm25_indexed,
        "uninvert_roundtrip": _q_uninvert_roundtrip,
        "doc_assembly": _q_doc_assembly,
        "doc_ids": _q_doc_ids,
        "dedup_exact": _q_dedup_exact,
        "jaccard_pairs": _q_jaccard_pairs,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "dedup_clusters": _q_dedup_clusters,
        "documents_deduped": _q_documents_deduped,
        "phrase_match": _q_phrase_match,
        "phrase_match_indexed": _q_phrase_match_indexed,
        "phrase_match_many": _q_phrase_match_many,
        "simhash64": _q_simhash,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_lsh_topk_many": _q_ann_lsh_many,
        "kmeans_assign": _q_kmeans_assign,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_many": _q_ivf_topk_many,
        "ivf_topk_sq8": _q_ivf_topk_sq8,
        "ivf_topk_sq8r": _q_ivf_topk_sq8r,
        "embedding_dup_pairs": _q_embedding_dups,
        "embedding_dup_lsh": _q_embedding_dup_lsh,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality,
        "token_counts": _q_token_counts,
        "fingerprint": _q_fingerprint,
        "media_features": _q_media_features,
        "frame_sample": _q_frame_sample,
    }


# ---------------------------------------------------------------- oracle ----


def _bm25_sql(qtext: str, k: int = 10) -> str:
    import re

    terms = sorted(set(m.lower() for m in re.findall(r"[A-Za-z0-9]+", qtext)))
    tlist = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl),
q(term) AS (VALUES {tlist}),
dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
              * tf.tf * {K1 + 1.0} / (tf.tf + {K1} * ({1.0 - B_BM25} + {B_BM25} * dl.doclen / s.avgdl)) ) AS score
  FROM tf JOIN dfq ON tf.term = dfq.term JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score_r FROM scored
ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {k}
"""


_SHINGLES = (
    "list_transform(range(1, len(t) - 1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
)

# double-space padding between tokens (operators/phrase.py): adjacent phrase
# occurrences never share delimiter chars, so the non-overlapping replace
# arithmetic counts every one of them — identical in Spark and the indexed
# position-intersection path
_PHRASE_SQL = f"""
WITH s AS (
  SELECT doc_id,
         ' ' || array_to_string({_TOK.format(col='text')}, '  ') || ' ' AS norm
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST((len(norm) - len(replace(norm, ' merge  spark ', ''))) / len(' merge  spark ') AS INTEGER) AS n_hits
  FROM s
)
SELECT doc_id, n_hits FROM c WHERE n_hits > 0
ORDER BY n_hits DESC, doc_id LIMIT 20
"""


def _phrase_count_sql(phrase_norm: str) -> str:
    pat = " " + "  ".join(phrase_norm.split()) + " "
    return f"CAST((len(norm) - len(replace(norm, '{pat}', ''))) / len('{pat}') AS INTEGER)"


# batched-phrase oracle: per-phrase counts over the same padded stream,
# union, rank per query_id — mirrors phrase_query_many's Window rank
_PHRASE_MANY_SQL = f"""
WITH s AS (
  SELECT doc_id,
         ' ' || array_to_string({_TOK.format(col='text')}, '  ') || ' ' AS norm
  FROM documents
),
u AS (
  SELECT 1 AS query_id, doc_id, {_phrase_count_sql('merge spark')} AS n_hits FROM s
  UNION ALL
  SELECT 2 AS query_id, doc_id, {_phrase_count_sql('the data')} AS n_hits FROM s
),
r AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY n_hits DESC, doc_id) AS INTEGER) AS rank,
         doc_id, n_hits
  FROM u WHERE n_hits > 0
)
SELECT query_id, rank, doc_id, n_hits FROM r WHERE rank <= 20
"""

_STOPLIST = "[" + ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS) + "]"


def _ann_lsh_sql(spark_unused=None) -> str:
    # plane constants are deterministic (seed=42, dim=64) — embed as literals
    planes = similarity.hyperplanes(64, 8, 42)
    dot_q = "list_dot_product(qv, qv)"
    bucket_cases = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_plane_lit(planes[p])}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(8)
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qsig AS (SELECT ({bucket_cases.replace('(e,', '(qv,')}) AS sig FROM q),
b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bk AS (SELECT vec_id, e, ({bucket_cases}) AS bucket FROM b),
probes AS (SELECT sig AS p FROM qsig UNION ALL SELECT xor(sig, 1 << gs.g) FROM qsig, generate_series(0, 7) gs(g)),
cand AS (SELECT vec_id, e FROM bk WHERE bucket IN (SELECT p FROM probes)),
s AS (SELECT vec_id, round(list_dot_product(e, q.qv) / (sqrt(list_dot_product(e, e)) * sqrt({dot_q})), 6) AS cos
      FROM cand CROSS JOIN q)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT {ANN_K}
"""


def _plane_lit(plane) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _d2_sql(v: str, c: str) -> str:
    """round((‖v‖² − 2·v·c) + ‖c‖², 6) — the same float64 association order
    operators/ivf.assign_ids uses, so rounded distances match bit-for-bit."""
    return (
        f"round((list_dot_product({v}, {v}) - 2*list_dot_product({v}, {c}))"
        f" + list_dot_product({c}, {c}), 6)"
    )


def _kmeans_ctes(n_lists: int = IVF_N_LISTS, iters: int = IVF_ITERS) -> tuple[str, str, str]:
    """DuckDB replication of operators/ivf.train_kmeans, unrolled per Lloyd
    iteration: init = n_lists lowest-vec_id vectors rounded to 6; each
    iteration assigns by rounded d² (ties -> lowest cl) then re-centers with
    a round-6 per-dim mean, empty cells keeping their previous centroid.
    Returns (cte_block, final_centroid_cte_name, final_assign_cte_name)."""

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, cl FROM (
    SELECT v.vec_id, c.cl,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {_d2_sql('v.e', 'c.e')}, c.cl) AS rn
    FROM v CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl,
         list_transform(e, x -> round(x, 6)) AS e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_lists})
)""",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(assign_cte(f"a{i}", prev))
        parts.append(f"""m{i} AS (
  SELECT cl, idx, round(sum(x) / count(*), 6) AS cx FROM (
    SELECT a.cl AS cl, unnest(v.e) AS x, generate_subscripts(v.e, 1) AS idx
    FROM a{i} a JOIN v USING (vec_id)
  ) GROUP BY cl, idx
)""")
        parts.append(f"""c{i} AS (
  SELECT p.cl, COALESCE(n.e, p.e) AS e
  FROM {prev} p LEFT JOIN (SELECT cl, list(cx ORDER BY idx) AS e FROM m{i} GROUP BY cl) n USING (cl)
)""")
        prev = f"c{i}"
    final_assign = f"a{iters + 1}"
    parts.append(assign_cte(final_assign, prev))
    return ",\n".join(parts), prev, final_assign


def _kmeans_assign_sql() -> str:
    ctes, _, fa = _kmeans_ctes()
    return f"""
WITH {ctes}
SELECT vec_id, CAST(cl AS INTEGER) AS list_id FROM {fa}
"""


def _ivf_topk_sql(nprobe: int = IVF_NPROBE, k: int = ANN_K) -> str:
    ctes, cf, fa = _kmeans_ctes()
    return f"""
WITH {ctes},
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qd AS (SELECT c.cl, {_d2_sql('q.qv', 'c.e')} AS d FROM {cf} c CROSS JOIN q),
probe AS (SELECT cl FROM qd ORDER BY d, cl LIMIT {nprobe}),
cand AS (SELECT v.vec_id, v.e FROM {fa} a JOIN probe USING (cl) JOIN v USING (vec_id)),
s AS (
  SELECT vec_id,
         round(list_dot_product(e, q.qv)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT {k}
"""


def _ivf_topk_many_sql(
    qvec_ids=(0, 1, 2), nprobe: int = IVF_NPROBE, k: int = ANN_K
) -> str:
    """Batched-IVF oracle: per query, the nprobe nearest trained cells
    (rounded d², ties -> lowest cl) select the candidates; exact cosine,
    rank per query — mirrors IvfIndexReader.topk_many."""
    ctes, cf, fa = _kmeans_ctes()
    ids = ", ".join(str(i) for i in qvec_ids)
    return f"""
WITH {ctes},
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, e AS qv FROM v WHERE vec_id IN ({ids})),
qd AS (SELECT q.query_id, c.cl, {_d2_sql('q.qv', 'c.e')} AS d FROM {cf} c CROSS JOIN q),
probe AS (
  SELECT query_id, cl FROM (
    SELECT query_id, cl, row_number() OVER (PARTITION BY query_id ORDER BY d, cl) AS rn
    FROM qd
  ) WHERE rn <= {nprobe}
),
cand AS (SELECT p.query_id, a.vec_id FROM {fa} a JOIN probe p USING (cl)),
s AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(v.e, q.qv)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand c JOIN v USING (vec_id) JOIN q USING (query_id)
),
r AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank,
         vec_id, cos
  FROM s
)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {k}
"""


def _ivf_topk_sq8_sql(nprobe: int = IVF_NPROBE, k: int = ANN_K) -> str:
    """SQ8-storage oracle: the quantizer is the corpus per-dim (min, max) —
    itself SQL-derivable — and a candidate scores as cos(decode(encode(x)),
    q_raw) with encode = clamp(floor((x−lo)/s + 0.5), 0, 255), s = (hi−lo)/255
    (operators/ivf.sq8_encode/sq8_decode, identical float64 ops). Cell
    assignment runs on RAW vectors (FAISS-ADC semantics), so the probe CTEs
    are shared with ivf_topk."""
    ctes, cf, fa = _kmeans_ctes()
    return f"""
WITH {ctes},
u AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS idx FROM v),
sc AS (
  SELECT idx, min(x) AS lo, (max(x) - min(x)) / 255.0 AS s FROM u GROUP BY idx
),
dq AS (
  SELECT u.vec_id,
         list(sc.lo + least(greatest(floor(CASE WHEN sc.s > 0 THEN (u.x - sc.lo) / sc.s + 0.5 ELSE 0.5 END), 0.0), 255.0) * sc.s
              ORDER BY u.idx) AS eq
  FROM u JOIN sc USING (idx)
  GROUP BY u.vec_id
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qd AS (SELECT c.cl, {_d2_sql('q.qv', 'c.e')} AS d FROM {cf} c CROSS JOIN q),
probe AS (SELECT cl FROM qd ORDER BY d, cl LIMIT {nprobe}),
cand AS (SELECT d.vec_id, d.eq FROM {fa} a JOIN probe USING (cl) JOIN dq d USING (vec_id)),
s AS (
  SELECT vec_id,
         round(list_dot_product(eq, q.qv)
               / (sqrt(list_dot_product(eq, eq)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT {k}
"""


def _ivf_topk_sq8r_sql(nprobe: int = IVF_NPROBE, k: int = ANN_K) -> str:
    """Residual-SQ8 oracle: the quantizer bounds are the per-dim (min, max)
    of the assignment residuals x − centroid[cl] (SQL-derivable from the
    kmeans CTEs), a candidate reconstructs as centroid + decode(encode(r)),
    and scoring stays asymmetric vs the raw query — mirrors
    operators/ivf quantize="sq8r" exactly (same float64 association:
    ce + (lo + code·s))."""
    ctes, cf, fa = _kmeans_ctes()
    return f"""
WITH {ctes},
ru AS (
  SELECT v.vec_id, unnest(v.e) AS x, unnest(c.e) AS ce, generate_subscripts(v.e, 1) AS idx
  FROM v JOIN {fa} a USING (vec_id) JOIN {cf} c USING (cl)
),
sc AS (
  SELECT idx, min(x - ce) AS lo, (max(x - ce) - min(x - ce)) / 255.0 AS s
  FROM ru GROUP BY idx
),
dq AS (
  SELECT ru.vec_id,
         list(ru.ce + (sc.lo + least(greatest(floor(CASE WHEN sc.s > 0 THEN ((ru.x - ru.ce) - sc.lo) / sc.s + 0.5 ELSE 0.5 END), 0.0), 255.0) * sc.s)
              ORDER BY ru.idx) AS eq
  FROM ru JOIN sc USING (idx)
  GROUP BY ru.vec_id
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
qd AS (SELECT c.cl, {_d2_sql('q.qv', 'c.e')} AS d FROM {cf} c CROSS JOIN q),
probe AS (SELECT cl FROM qd ORDER BY d, cl LIMIT {nprobe}),
cand AS (SELECT d.vec_id, d.eq FROM {fa} a JOIN probe USING (cl) JOIN dq d USING (vec_id)),
s AS (
  SELECT vec_id,
         round(list_dot_product(eq, q.qv)
               / (sqrt(list_dot_product(eq, eq)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT {k}
"""


def _ann_lsh_many_sql(qvec_ids=(0, 1, 2), k: int = 10) -> str:
    """Batched-ANN oracle: each query vector is an embeddings row, so its
    LSH signature IS its own bucket; probes = sig + all Hamming-1 flips
    (probe_hamming=1), per-query pruning replicated exactly, rank per
    query_id — mirrors AnnIndexReader.topk_many."""
    planes = similarity.hyperplanes(64, 8, 42)
    bucket_cases = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_plane_lit(planes[p])}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(8)
    )
    q_union = "\n  UNION ALL\n".join(
        f"  SELECT {vid} AS query_id, e AS qv, bucket AS sig FROM bk WHERE vec_id = {vid}"
        for vid in qvec_ids
    )
    return f"""
WITH bk AS (
  SELECT vec_id, e, ({bucket_cases}) AS bucket
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
),
q AS (
{q_union}
),
probes AS (
  SELECT query_id, sig AS p FROM q
  UNION ALL
  SELECT query_id, xor(sig, 1 << gs.g) FROM q, generate_series(0, 7) gs(g)
),
cand AS (SELECT p.query_id, bk.vec_id, bk.e FROM bk JOIN probes p ON bk.bucket = p.p),
s AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(c.e, q.qv)
               / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM cand c JOIN q USING (query_id)
),
r AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank,
         vec_id, cos
  FROM s
)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {k}
"""


def _embedding_dup_lsh_sql(
    n_planes: int = 8, bands: int = 4, seed: int = 42, max_bucket: int = 50, top: int = 20
) -> str:
    """Independent DuckDB replication of the banded-LSH near-dup pruning
    (operators/similarity.py:cosine_pairs_lsh): same seeded plane literals,
    same bucket-size guard, pairs only within (band, bucket)."""
    dim = 64  # embeddings testdata dimension (TESTDATA.md)
    selects = []
    for band in range(bands):
        planes = similarity.hyperplanes(dim, n_planes, seed + band)
        cases = " + ".join(
            f"(CASE WHEN list_dot_product(e, {_plane_lit(planes[p])}) >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        selects.append(f"SELECT {band} AS band, ({cases}) AS bucket, vec_id, e FROM v")
    bk = "\nUNION ALL\n".join(selects)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bk AS (
{bk}
),
guard AS (
  SELECT band, bucket FROM (SELECT band, bucket, count(*) AS c FROM bk GROUP BY 1, 2)
  WHERE c > 1 AND c <= {max_bucket}
),
cand AS (SELECT bk.* FROM bk JOIN guard USING (band, bucket)),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
  FROM cand a JOIN cand b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
d AS (SELECT vec_a, vec_b, max(cos) AS cos FROM p GROUP BY 1, 2)
SELECT vec_a, vec_b, cos FROM d ORDER BY cos DESC, vec_a, vec_b LIMIT {top}
"""


def _media_features_sql() -> str:
    """Independent DuckDB recomputation of the deterministic fake decoder
    (operators/multimodal.py:_fake_decode): hx = sha256(kind || hex(payload));
    feature j = float32(u32_le(digest bytes 4(j%8)..) / 2^32-1); feat_sum is
    the same left-to-right double sum Spark's F.aggregate performs."""
    from abstracts_search_spark.operators.multimodal import FEATURE_DIM

    def u32_le(j: int) -> str:
        b = (j % 8) * 4  # digest repeats every 8 uint32s (32-byte sha256)
        hi_to_lo = " || ".join(f"substr(hx, {2 * (b + k) + 1}, 2)" for k in (3, 2, 1, 0))
        return f"CAST('0x' || {hi_to_lo} AS BIGINT)"

    terms = [
        f"CAST(CAST(CAST({u32_le(j)} AS DOUBLE) / 4294967295.0 AS FLOAT) AS DOUBLE)"
        for j in range(FEATURE_DIM)
    ]
    return f"""
WITH h AS (
  SELECT media_id, kind, sha256(kind || lower(hex(payload))) AS hx
  FROM read_parquet('{MEDIA_FIX}')
)
SELECT media_id, kind, CAST({FEATURE_DIM} AS BIGINT) AS dim,
       round({" + ".join(terms)}, 6) AS feat_sum
FROM h
"""


def _frame_sample_sql(every_ms: int = 1000) -> str:
    return f"""
SELECT media_id, CAST(unnest(generate_series(0, greatest(duration_ms - 1, 0), {every_ms})) AS BIGINT) AS frame_ms
FROM read_parquet('{MEDIA_FIX}')
WHERE kind = 'video'
"""


def _minhash_pairs_sql(sh_cte: str) -> str:
    """Independent DuckDB replication of minhash_lsh_pairs (num_perm=12,
    bands=4, guard ≤50) — shared by the pairs oracle and the dedup_clusters
    oracle (which closes the pair graph transitively)."""
    return f"""
WITH {sh_cte},
perms AS (SELECT unnest(range(12)) AS perm),
sig AS (
  SELECT doc_id, perm, min(md5(concat_ws('#', shingle, perm))) AS sig
  FROM sh CROSS JOIN perms GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, band, md5(string_agg(sig, '|' ORDER BY perm)) AS bucket
  FROM (SELECT doc_id, perm, sig, perm // 3 AS band FROM sig) GROUP BY doc_id, band
),
guard AS (
  SELECT band, bucket FROM (SELECT band, bucket, count(*) AS c FROM banded GROUP BY 1, 2)
  WHERE c > 1 AND c <= 50
),
small AS (SELECT banded.* FROM banded JOIN guard USING (band, bucket))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM small a JOIN small b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def oracle_sql() -> dict[str, str]:
    fix_glob = os.path.join(FIX_DIR, "part=*", "data.parquet")
    toks_docs = f"SELECT doc_id, {_TOK.format(col='text')} AS t FROM documents"
    sh_cte = f"""
toksl AS ({toks_docs}),
sh AS (SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM toksl WHERE len(t) >= 3)
"""
    return {
        "lang_filter": (
            "SELECT doc_id, lang, source, n_chars FROM documents "
            "WHERE lang IS NULL OR lang = 'en'"
        ),
        "tokenize_tf": f"""
WITH toks AS (SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents)
SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
""",
        "tokenize_tf_unicode": f"""
WITH toks AS (SELECT doc_id, unnest({_UTOK.format(col='text')}) AS term FROM documents)
SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
""",
        "term_df": f"""
WITH toks AS (SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents),
tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2)
SELECT term, count(*) AS df FROM tf GROUP BY 1
""",
        "corpus_stats": f"""
WITH toks AS (SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1)
SELECT count(*) AS n_docs, round(avg(doclen), 6) AS avgdl,
       CAST(sum(doclen) AS BIGINT) AS total_tokens FROM dl
""",
        "bm25_topk": _bm25_sql(BM25_QUERY),
        "bm25_topk_hot": _bm25_sql(BM25_HOT_QUERY),
        "bm25_topk_indexed": _bm25_sql(BM25_QUERY),
        "uninvert_roundtrip": f"""
SELECT doc_id, array_to_string({_TOK.format(col='text')}, ' ') AS normalized FROM documents
""",
        "doc_assembly": f"""
SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS document,
       count(*) AS n_turns
FROM read_parquet('{fix_glob}')
WHERE text IS NOT NULL AND text <> '' GROUP BY conv_id
""",
        "doc_ids": f"""
WITH docs AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS document
  FROM read_parquet('{fix_glob}')
  WHERE text IS NOT NULL AND text <> '' GROUP BY conv_id
),
keep AS (SELECT conv_id FROM docs WHERE len({_TOK.format(col='document')}) > 0)
SELECT conv_id, CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id FROM keep
""",
        "dedup_exact": """
SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
""",
        "jaccard_pairs": f"""
WITH {sh_cte},
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM j ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
""",
        "minhash_lsh_pairs": _minhash_pairs_sql(sh_cte),
        "dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql(sh_cte)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM edges GROUP BY a
  UNION
  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
)
SELECT n AS doc_id, MIN(m) AS cluster_id, CAST(n = MIN(m) AS INTEGER) AS keep
FROM reach GROUP BY n
""",
        "documents_deduped": f"""
WITH RECURSIVE pairs AS ({_minhash_pairs_sql(sh_cte)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(n, m) AS (
  SELECT a, a FROM edges GROUP BY a
  UNION
  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
),
drop_set AS (SELECT n FROM reach GROUP BY n HAVING n <> MIN(m))
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT n FROM drop_set)
""",
        "phrase_match": _PHRASE_SQL,
        "phrase_match_indexed": _PHRASE_SQL,
        "phrase_match_many": _PHRASE_MANY_SQL,
        "ann_cosine_topk": f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
  FROM embeddings CROSS JOIN q
)
SELECT vec_id, cos FROM s ORDER BY cos DESC, vec_id LIMIT {ANN_K}
""",
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_lsh_topk_many": _ann_lsh_many_sql(),
        "kmeans_assign": _kmeans_assign_sql(),
        "ivf_topk": _ivf_topk_sql(),
        "ivf_topk_many": _ivf_topk_many_sql(),
        "ivf_topk_sq8": _ivf_topk_sq8_sql(),
        "ivf_topk_sq8r": _ivf_topk_sq8r_sql(),
        "embedding_dup_pairs": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM p ORDER BY cos DESC, vec_a, vec_b LIMIT 20
""",
        "lang_id": f"""
WITH toksl AS ({toks_docs})
SELECT doc_id,
  round(CASE WHEN len(t) > 0
        THEN CAST(len(list_filter(t, x -> list_contains({_STOPLIST}, x))) AS DOUBLE) / len(t)
        ELSE 0.0 END, 6) AS stop_ratio,
  CASE WHEN (CASE WHEN len(t) > 0
        THEN CAST(len(list_filter(t, x -> list_contains({_STOPLIST}, x))) AS DOUBLE) / len(t)
        ELSE 0.0 END) >= 0.03 THEN 'en' ELSE 'other' END AS lang_pred
FROM toksl
""",
        "quality_score": f"""
WITH toksl AS (SELECT doc_id, text, {_TOK.format(col='text')} AS t FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CASE WHEN len(t) > 0 THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END AS diversity,
    CASE WHEN length(coalesce(text, '')) > 0
         THEN CAST(len(regexp_extract_all(coalesce(text, ''), '[^A-Za-z0-9 ]')) AS DOUBLE) / length(coalesce(text, ''))
         ELSE 0.0 END AS punct_ratio,
    least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) AS len_score
  FROM toksl
)
SELECT doc_id, n_tokens, round(diversity, 6) AS diversity, round(punct_ratio, 6) AS punct_ratio,
       round(len_score * 0.4 + diversity * 0.4 + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2, 6) AS quality
FROM m
""",
        "token_counts": r"""
SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
  CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[^A-Za-z0-9]+'), x -> x <> '')) AS BIGINT) AS alnum_tokens,
  CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+'))
     + len(regexp_extract_all(coalesce(text, ''), '[0-9]'))
     + len(regexp_extract_all(coalesce(text, ''), '[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_pieces
FROM documents
""",
        "fingerprint": f"""
WITH toksl AS ({toks_docs})
SELECT doc_id,
  coalesce(
    CASE WHEN len(t) >= 3
         THEN list_aggregate(list_transform({_SHINGLES}, s -> md5(s)), 'min') END,
    md5(array_to_string(t, ' '))) AS fp
FROM toksl
""",
        "simhash64": _simhash_sql(),
        "embedding_dup_lsh": _embedding_dup_lsh_sql(),
        "media_features": _media_features_sql(),
        "frame_sample": _frame_sample_sql(),
    }


def _simhash_sql(bits: int = 60) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h64 >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS b{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h64 FROM tf),
b AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM b
"""
