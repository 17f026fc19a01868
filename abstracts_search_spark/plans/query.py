"""Query path (SURVEY.md §3.2): text -> exact BM25 / phrase top-k over the index.

One path serves every text query, mirroring the reference's query pipeline
(embed → IVF probe → top-k → hydrate, README.md:16,28) and
the vector readers' ``vecindex.CellIndexReader``:

1. tokenize each query with the index's tokenizer (:meth:`IndexReader.tokens`)
   and hash each term to its int64 ``term_id`` (operators/postings.term_id_of
   — the postings key; no string dictionary exists or is needed),
2. look the ids up in `dictionary` and sum each term's df over its
   generations (driver-cached for small vocabularies, predicate-pushdown
   scan otherwise — the analog of loading params.json + coarse quantizer),
3. scan `postings` with bucket-partition pruning + term_id predicate,
   projecting only the columns the scorer reads (only the query terms'
   files/row-groups are read — the IVF-probe analog),
4. score per shard in applyInPandas — BM25 through the one batched scorer
   (operators/wand.make_scorer: block-max WAND or vectorized TAAT per
   (query, shard)), phrases through the positional matcher — emitting
   (query_id, doc_id, score|n_hits); shards are disjoint doc ranges, so
5. rank: a single query (``query``/``phrase_query``) is a batch of one ranked
   by a global TakeOrderedAndProject(k); a query set (``query_many``/
   ``phrase_query_many``) is ranked per query with one window. BM25 results
   are hydrated by a broadcast join against `docmap` (the ids.parquet
   analog, Makefile:11).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..frames import no_rows
from ..functions.tokenize import get_tokenizer
from ..operators.phrase import make_phrase_matcher_multi
from ..operators.postings import POSTINGS_TABLE, term_id_of
from ..operators.vecindex import Staleness
from ..operators.wand import idf_of, make_scorer
from ..sources.tables import read_table
from .build import DICTIONARY_TABLE, DOCMAP_TABLE, STATS_TABLE, check_format

# postings columns each scorer reads — the pruned scan projects only these,
# so BM25 never ships the positional stream to Python
_BM25_COLS = ("term_id", "df", "first_doc", "last_doc", "doc_bin", "tf_bin", "dl_bin",
              "doc_offs", "tf_offs", "dl_offs", "block_last", "block_max_tf", "block_min_dl")
_PHRASE_COLS = ("term_id", "df", "doc_bin", "tf_bin", "dl_bin", "pos_bin")


def _df_sums(rows) -> dict[int, tuple[int, int]]:
    """Dictionary rows of any generations -> {term_id: (df, bucket)}, df
    summed across generations (a term's bucket is the same in all)."""
    out: dict[int, tuple[int, int]] = {}
    for r in rows:
        tid = int(r["term_id"])
        out[tid] = (out.get(tid, (0, 0))[0] + int(r["df"]), int(r["bucket"]))
    return out


class IndexReader(Staleness):
    """Caches the small index metadata driver-side; postings stay on disk."""

    # the reference keeps only a FIXED-size coarse quantizer in memory
    # (65,536 centroids — /root/reference/README.md:16, Makefile:38-39);
    # the driver-side dictionary cache gets the same bound, never O(vocab)
    DICT_CACHE_TERMS = 65_536

    def __init__(self, spark: SparkSession, index_dir: str, max_cached_terms: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self._params_file = os.path.join(index_dir, "params.json")
        # vocabularies at or under the reference's quantizer size are cached
        # driver-side LAZILY (first lookup), so term lookup costs zero Spark
        # jobs per query and reader construction runs no vocabulary-sized job
        # at all; larger vocabularies always look terms up with a pushed-down
        # dictionary scan — the In(term_id,…) predicate prunes term_id-sorted
        # row groups, so the lookup stays distributed and O(query terms)
        self._cache_limit = self.DICT_CACHE_TERMS if max_cached_terms is None else max_cached_terms
        self._attach()

    def _attach(self) -> None:
        """(Re)bind to the on-disk index state: params, stats, table handles,
        empty caches. Called at construction and whenever the staleness check
        sees that a sync/compaction rewrote params.json — a long-lived reader
        that spans an incremental merge must not keep serving frozen
        n_docs/avgdl or stale dictionary misses (a cached None would silently
        treat newly indexed terms as absent forever)."""
        self._sig = self._signature()
        with open(self._params_file) as f:
            self.params = json.load(f)
        check_format(self.params, self.index_dir)
        row = read_table(self.spark, self.index_dir, "stats", STATS_TABLE).collect()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        # table handles are re-created too: a DataFrame's file index is frozen
        # at read time, so a new gen=G partition dir is invisible to old
        # handles. Only merged generations are visible: an ingested one
        # joins at the merge that moves params.json's next_gen past it
        merged = F.col("gen") < int(self.params["next_gen"])
        self.postings = read_table(self.spark, self.index_dir, "postings", POSTINGS_TABLE).filter(merged)
        self.dictionary = read_table(
            self.spark, self.index_dir, "dictionary", DICTIONARY_TABLE
        ).filter(merged)
        self.docmap = read_table(self.spark, self.index_dir, "docmap", DOCMAP_TABLE)
        # query text is normalized with the INDEX's tokenizer contract
        # (params.json "tokenizer", fixed at first ingest) — a unicode index
        # must not have its queries ascii-tokenized or non-Latin query terms
        # silently vanish before lookup
        self._tokenizer: str = self.params["tokenizer"]
        # dictionary rows (all generations) recorded at merge time
        # (params.json n_terms) — an upper bound on the vocabulary
        self._n_terms = int(self.params["n_terms"])
        self._dict_cache: dict[int, tuple[int, int]] | None = None
        # big-vocab regime: terms already looked up (hits AND misses) are
        # remembered, bounded by the same cap — repeated hot query terms cost
        # zero Spark jobs after their first appearance while driver memory
        # stays O(distinct queried terms), never O(vocab)
        self._lookup_cache: dict[int, tuple[int, int] | None] = {}

    def _cached_dict(self) -> dict[int, tuple[int, int]] | None:
        if self._dict_cache is None and self._n_terms <= self._cache_limit:
            self._dict_cache = _df_sums(self.dictionary.collect())
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
            got = _df_sums(self.dictionary.filter(F.col("term_id").isin(unseen)).collect())
            fresh = {tid: got.get(tid) for tid in unseen}
            entries.update(fresh)
            if len(self._lookup_cache) + len(fresh) <= self._cache_limit:
                self._lookup_cache.update(fresh)  # else: cap reached, serve uncached
        return [
            {"term": tids[tid], "term_id": tid, "df": v[0], "bucket": v[1]}
            for tid, v in entries.items()
            if v is not None
        ]

    def tokens(self, text: str) -> list[str]:
        """The query's token stream under the index's tokenizer."""
        return get_tokenizer(self._tokenizer).tokens(text)

    def candidates(self, entries: list[dict], cols: tuple[str, ...]) -> DataFrame:
        """The pruned postings scan for looked-up ``entries``: bucket
        PartitionFilter + pushed In(term_id, …), projected to ``shard`` and
        ``cols``."""
        buckets = sorted({int(e["bucket"]) for e in entries})
        tids = sorted({int(e["term_id"]) for e in entries})
        return self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term_id").isin(tids)
        ).select("shard", *cols)

    def _lookup(self, texts: dict[int, str]) -> tuple[dict[int, list[str]], dict[str, dict]]:
        """-> (each query's tokens, {term: dictionary entry} over their union)."""
        toks = {qid: self.tokens(t) for qid, t in texts.items()}
        entries = self.lookup_terms(sorted({t for ts in toks.values() for t in ts}))
        return toks, {e["term"]: e for e in entries}

    def _scored(self, texts: dict[int, str], k: int, method: str | None) -> DataFrame:
        """-> (query_id, doc_id, score): each query's per-shard BM25 top k."""
        self._refresh_if_stale()
        toks, entries = self._lookup(texts)
        query_idfs = {}
        for qid, ts in toks.items():
            idfs = {
                entries[t]["term_id"]: idf_of(self.n_docs, int(entries[t]["df"]))
                for t in sorted(set(ts))
                if t in entries
            }
            if idfs:
                query_idfs[qid] = idfs
        schema = "query_id int, doc_id long, score double"
        if not query_idfs:
            return no_rows(self.postings, schema)
        scorer = make_scorer(
            query_idfs, k, self.avgdl, k1=self.params["k1"], b=self.params["b"],
            method=method or self.params.get("method", "auto"),
        )
        cand = self.candidates(list(entries.values()), _BM25_COLS)
        return cand.groupBy("shard").applyInPandas(scorer, schema)

    def _phrase_scored(self, phrases: dict[int, str]) -> DataFrame:
        """-> (query_id, doc_id, n_hits) for every doc matching a phrase.
        Phrases with an empty token stream or an unindexed term match
        nothing."""
        self._refresh_if_stale()
        if not self.params.get("positions"):
            raise ValueError(
                f"index at {self.index_dir} was built without positions "
                "(build with with_positions=True for phrase queries)"
            )
        toks, entries = self._lookup(phrases)
        term_seqs = {
            qid: [int(entries[t]["term_id"]) for t in ts]
            for qid, ts in toks.items()
            if ts and all(t in entries for t in ts)
        }
        schema = "query_id int, doc_id long, n_hits int"
        if not term_seqs:
            return no_rows(self.postings, schema)
        live = [entries[t] for qid in term_seqs for t in toks[qid]]
        cand = self.candidates(live, _PHRASE_COLS)
        return cand.groupBy("shard").applyInPandas(make_phrase_matcher_multi(term_seqs), schema)

    def query(self, text: str, k: int = 10, method: str | None = None) -> DataFrame:
        """-> DataFrame(doc_id, conv_id, score), already in final rank order.

        ``method`` defaults to the tuned value in params.json (plans/tune.py),
        falling back to per-(query, shard) auto selection (TAAT on dense
        candidate sets, block-max WAND on selective ones).
        """
        topk = (
            self._scored({0: text}, k, method)
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        out = F.broadcast(topk).join(self.docmap.select("doc_id", "conv_id"), "doc_id")
        # limit(k) plans a TakeOrderedAndProject: a bare orderBy would plan a
        # range exchange, a sampling job and a shuffle job for at most k rows
        return (
            out.select("doc_id", "conv_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def query_many(
        self, texts: list[str] | dict[int, str], k: int = 10, method: str | None = None
    ) -> DataFrame:
        """Batched exact top-k: ONE Spark job for the whole query set.

        Posting lists are decoded once per shard and shared across queries;
        ``method`` as in :meth:`query`. Rankings are identical to per-query
        :meth:`query` (tested). -> (query_id, rank, doc_id, conv_id, score).
        """
        if isinstance(texts, list):
            texts = dict(enumerate(texts))
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        topk = (
            self._scored(texts, k, method)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        out = F.broadcast(topk).join(self.docmap.select("doc_id", "conv_id"), "doc_id")
        return out.select("query_id", "rank", "doc_id", "conv_id", "score")

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
        return (
            self._phrase_scored({0: phrase})
            .select("doc_id", "n_hits")
            .orderBy(F.desc("n_hits"), F.asc("doc_id"))
            .limit(k)
        )

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
        if isinstance(phrases, list):
            phrases = dict(enumerate(phrases))
        w = Window.partitionBy("query_id").orderBy(F.desc("n_hits"), F.asc("doc_id"))
        return (
            self._phrase_scored(phrases)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "n_hits")
        )
