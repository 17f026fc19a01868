"""Query path (SURVEY.md §3.2): text -> exact BM25 top-k over the index.

Physical plan, mirroring the reference's query pipeline (embed → IVF probe →
top-k → hydrate, /root/reference/README.md:16,28):

1. tokenize the query (same tokenizer as build) and hash each term to its
   int64 ``term_id`` (operators/postings.term_id_of — the postings key; no
   string dictionary exists or is needed),
2. look the ids up in `dictionary` (driver-cached for small vocabularies,
   predicate-pushdown scan otherwise — the analog of loading params.json +
   coarse quantizer),
3. scan `postings` with bucket-partition pruning + term_id predicate (only
   the query terms' files/row-groups are read — the IVF-probe analog),
4. per-shard exact scoring (block-max WAND or vectorized TAAT) in
   applyInPandas — shards are disjoint doc ranges, so
5. global TakeOrderedAndProject(k) then a broadcast hydration join against
   `docmap` (the ids.parquet analog, Makefile:11).
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize_pd
from ..operators.postings import term_id_of
from ..operators.wand import idf_of, make_multi_scorer, make_shard_scorer
from ..sources.tables import read_table


def _env_cache_limit(default: int) -> int:
    """SPARK_GRAFT_DICT_CACHE_TERMS, parsed defensively: non-integer values
    fall back to the default with a warning instead of crashing reader
    construction, and negative values clamp to 0 (cache disabled) rather than
    silently disabling both caches with a nonsense cap."""
    raw = os.environ.get("SPARK_GRAFT_DICT_CACHE_TERMS")
    if raw is None:
        return default
    try:
        return max(0, int(raw))
    except ValueError:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_DICT_CACHE_TERMS={raw!r} is not an integer; "
            f"using default {default}",
            stacklevel=3,
        )
        return default


class IndexReader:
    """Caches the small index metadata driver-side; postings stay on disk."""

    # the reference keeps only a FIXED-size coarse quantizer in memory
    # (65,536 centroids — /root/reference/README.md:16, Makefile:38-39);
    # the driver-side dictionary cache gets the same bound, never O(vocab)
    DICT_CACHE_TERMS = 65_536

    def __init__(self, spark: SparkSession, index_dir: str, max_cached_terms: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # vocabularies at or under the reference's quantizer size are cached
        # driver-side LAZILY (first lookup), so term lookup costs zero Spark
        # jobs per query and reader construction runs no vocabulary-sized job
        # at all; larger vocabularies always look terms up with a pushed-down
        # dictionary scan — the In(term_id,…) predicate prunes term_id-sorted
        # row groups, so the lookup stays distributed and O(query terms)
        self._cache_limit = (
            max_cached_terms
            if max_cached_terms is not None
            else _env_cache_limit(self.DICT_CACHE_TERMS)
        )
        self._params_sig: tuple[int, int] | None = None
        self._attach()

    def _attach(self) -> None:
        """(Re)bind to the on-disk index state: params, stats, table handles,
        empty caches. Called at construction and whenever ``_refresh_if_stale``
        detects that a sync/compaction rewrote params.json — a long-lived
        reader that spans an incremental merge must not keep serving frozen
        n_docs/avgdl or stale dictionary misses (a cached None would silently
        treat newly indexed terms as absent forever)."""
        self._params_sig = self._params_signature()
        with open(os.path.join(self.index_dir, "params.json")) as f:
            self.params = json.load(f)
        row = read_table(self.spark, self.index_dir, "stats").collect()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        # table handles are re-created too: a DataFrame's file index is frozen
        # at read time, so a new gen=G partition dir is invisible to old handles
        self.postings = read_table(self.spark, self.index_dir, "postings")
        self.dictionary = read_table(self.spark, self.index_dir, "dictionary")
        self.docmap = read_table(self.spark, self.index_dir, "docmap")
        # query text is normalized with the INDEX's tokenizer contract
        # (params.json "tokenizer", fixed at first ingest) — a unicode index
        # must not have its queries ascii-tokenized or non-Latin query terms
        # silently vanish before lookup
        self._tokenizer: str = self.params.get("tokenizer", "ascii")
        # vocab size is recorded at merge time (params.json n_terms); absent
        # (pre-format-4 index) means unknown → treated as large, never counted
        self._n_terms: int | None = self.params.get("n_terms")
        self._dict_cache: dict[int, tuple[int, int]] | None = None
        # big-vocab regime: terms already looked up (hits AND misses) are
        # remembered, bounded by the same cap — repeated hot query terms cost
        # zero Spark jobs after their first appearance while driver memory
        # stays O(distinct queried terms), never O(vocab)
        self._lookup_cache: dict[int, tuple[int, int] | None] = {}

    def _params_signature(self) -> tuple[int, int]:
        st = os.stat(os.path.join(self.index_dir, "params.json"))
        return (st.st_mtime_ns, st.st_size)

    def _refresh_if_stale(self) -> None:
        """One cheap stat() per query: params.json is rewritten LAST by every
        merge/compaction, so its (mtime, size) is a complete change signal."""
        if self._params_signature() != self._params_sig:
            self._attach()

    def _cached_dict(self) -> dict[int, tuple[int, int]] | None:
        if self._dict_cache is None and self._n_terms is not None and self._n_terms <= self._cache_limit:
            self._dict_cache = {
                int(r["term_id"]): (int(r["df"]), int(r["bucket"]))
                for r in self.dictionary.collect()
            }
        return self._dict_cache

    def lookup_terms(self, terms: list[str]) -> list[dict]:
        """string terms -> [{term, term_id, df, bucket}] for terms in the index."""
        if not terms:
            return []
        self._refresh_if_stale()
        tids = {term_id_of(t): t for t in terms}
        cache = self._cached_dict()
        if cache is not None:
            return [
                {"term": t, "term_id": tid, "df": cache[tid][0], "bucket": cache[tid][1]}
                for tid, t in tids.items()
                if tid in cache
            ]
        unseen = [tid for tid in tids if tid not in self._lookup_cache]
        entries: dict[int, tuple[int, int] | None] = {
            tid: self._lookup_cache[tid] for tid in tids if tid in self._lookup_cache
        }
        if unseen:
            got = {
                int(r["term_id"]): (int(r["df"]), int(r["bucket"]))
                for r in self.dictionary.filter(F.col("term_id").isin(unseen)).collect()
            }
            fresh = {tid: got.get(tid) for tid in unseen}
            entries.update(fresh)
            if len(self._lookup_cache) + len(fresh) <= self._cache_limit:
                self._lookup_cache.update(fresh)  # else: cap reached, serve uncached
        return [
            {"term": tids[tid], "term_id": tid, "df": v[0], "bucket": v[1]}
            for tid, v in entries.items()
            if v is not None
        ]

    def query(self, text: str, k: int = 10, method: str | None = None) -> DataFrame:
        """-> DataFrame(doc_id, conv_id, score), already in final rank order.

        ``method`` defaults to the tuned value in params.json (plans/tune.py),
        falling back to per-shard auto selection (TAAT on dense candidate
        sets, block-max WAND on selective ones).
        """
        method = method or self.params.get("method", "auto")
        terms = sorted(set(tokenize_pd(pd.Series([text]), tokenizer=self._tokenizer)[0]))
        entries = self.lookup_terms(terms)
        if not entries:
            return self.spark.createDataFrame([], "doc_id long, conv_id string, score double")
        idfs = {e["term_id"]: idf_of(self.n_docs, int(e["df"])) for e in entries}
        buckets = sorted({int(e["bucket"]) for e in entries})
        cand = self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(list(idfs))
        )
        scorer = make_shard_scorer(
            idfs, k, self.avgdl, k1=self.params["k1"], b=self.params["b"], method=method
        )
        per_shard = cand.groupBy("shard").applyInPandas(scorer, "doc_id long, score double")
        topk = per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        out = F.broadcast(topk).join(self.docmap.select("doc_id", "conv_id"), "doc_id")
        return out.select("doc_id", "conv_id", "score").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    def phrase_query(self, phrase: str, k: int = 20) -> DataFrame:
        """Exact phrase search through the INDEX -> (doc_id, n_hits), ranked
        (n_hits DESC, doc_id ASC), top k.

        The scale path for phrase queries: dictionary lookup → bucket
        partition pruning + pushed In(term_id,…) postings scan (ONLY the
        phrase terms' lists are read, never the corpus) → per-shard position
        intersection over the positional varint stream → bounded top-k.
        Results are identical to the brute ``operators.phrase.phrase_matches``
        scan (property-tested). Requires an index built with positions
        (params.json ``positions``); raises otherwise rather than silently
        falling back to a corpus scan.
        """
        from ..operators.phrase import make_phrase_matcher

        self._refresh_if_stale()
        if not self.params.get("positions"):
            raise ValueError(
                f"index at {self.index_dir} was built without positions "
                "(build with with_positions=True for phrase queries)"
            )
        toks = list(tokenize_pd(pd.Series([phrase]), tokenizer=self._tokenizer)[0])
        empty = self.spark.createDataFrame([], "doc_id long, n_hits int")
        if not toks:
            return empty
        entries = {e["term"]: e for e in self.lookup_terms(sorted(set(toks)))}
        if len(entries) < len(set(toks)):
            return empty  # a phrase containing an unindexed term matches nothing
        term_seq = [int(entries[t]["term_id"]) for t in toks]
        buckets = sorted({int(e["bucket"]) for e in entries.values()})
        cand = self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(sorted(set(term_seq)))
        )
        matcher = make_phrase_matcher(term_seq)
        per_shard = cand.groupBy("shard").applyInPandas(matcher, "doc_id long, n_hits int")
        return per_shard.orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(k)

    def phrase_query_many(
        self, phrases: list[str] | dict[int, str], k: int = 20
    ) -> DataFrame:
        """Batched exact phrase search: ONE Spark job for the whole phrase
        set, every posting row decoded once per shard and shared across
        phrases (the phrase twin of :meth:`query_many`).
        -> (query_id, rank, doc_id, n_hits), rank by (n_hits DESC, doc ASC),
        top k per phrase. Results identical to per-phrase
        :meth:`phrase_query` (tested). Phrases with an unindexed or empty
        token stream simply return no rows.
        """
        from pyspark.sql import Window

        from ..operators.phrase import make_phrase_matcher_multi

        self._refresh_if_stale()
        if not self.params.get("positions"):
            raise ValueError(
                f"index at {self.index_dir} was built without positions "
                "(build with with_positions=True for phrase queries)"
            )
        if isinstance(phrases, list):
            phrases = dict(enumerate(phrases))
        toks = {qid: list(tokenize_pd(pd.Series([t]), tokenizer=self._tokenizer)[0]) for qid, t in phrases.items()}
        all_terms = sorted({t for ts in toks.values() for t in ts})
        entries = {e["term"]: e for e in self.lookup_terms(all_terms)}
        term_seqs = {
            qid: [int(entries[t]["term_id"]) for t in ts]
            for qid, ts in toks.items()
            if ts and all(t in entries for t in ts)
        }
        empty = self.spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, n_hits int"
        )
        if not term_seqs:
            return empty
        live_tids = sorted({t for seq in term_seqs.values() for t in seq})
        buckets = sorted(
            {int(e["bucket"]) for e in entries.values() if e["term_id"] in set(live_tids)}
        )
        cand = self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(live_tids)
        )
        matcher = make_phrase_matcher_multi(term_seqs)
        per_shard = cand.groupBy("shard").applyInPandas(
            matcher, "query_id int, doc_id long, n_hits int"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("n_hits"), F.asc("doc_id"))
        return (
            per_shard.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "n_hits")
        )

    def query_many(self, texts: list[str] | dict[int, str], k: int = 10) -> DataFrame:
        """Batched exact top-k: ONE Spark job for the whole query set.

        Posting lists are decoded once per shard and shared across queries
        (vectorized TAAT). Rankings are identical to per-query `query()`
        (tested). -> (query_id, rank, doc_id, conv_id, score).
        """
        from pyspark.sql import Window

        if isinstance(texts, list):
            texts = dict(enumerate(texts))
        toks = {qid: sorted(set(tokenize_pd(pd.Series([t]), tokenizer=self._tokenizer)[0])) for qid, t in texts.items()}
        all_terms = sorted({t for ts in toks.values() for t in ts})
        entries = {e["term"]: e for e in self.lookup_terms(all_terms)}
        query_idfs = {
            qid: {
                entries[t]["term_id"]: idf_of(self.n_docs, int(entries[t]["df"]))
                for t in ts
                if t in entries
            }
            for qid, ts in toks.items()
        }
        query_idfs = {qid: idfs for qid, idfs in query_idfs.items() if idfs}
        if not query_idfs:
            return self.spark.createDataFrame(
                [], "query_id int, rank int, doc_id long, conv_id string, score double"
            )
        live_tids = sorted({tid for idfs in query_idfs.values() for tid in idfs})
        buckets = sorted({int(e["bucket"]) for e in entries.values() if e["term_id"] in set(live_tids)})
        cand = self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(live_tids)
        )
        scorer = make_multi_scorer(
            query_idfs, k, self.avgdl, k1=self.params["k1"], b=self.params["b"]
        )
        per_shard = cand.groupBy("shard").applyInPandas(
            scorer, "query_id int, doc_id long, score double"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        topk = per_shard.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        out = F.broadcast(topk).join(self.docmap.select("doc_id", "conv_id"), "doc_id")
        return out.select("query_id", "rank", "doc_id", "conv_id", "score")
