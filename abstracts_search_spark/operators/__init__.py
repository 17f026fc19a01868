from .assemble import assemble_documents
from .docids import assign_doc_ids
from .bm25_brute import bm25_score_scan, doc_tokens
from .dedup import (
    embedding_dup_lsh,
    embedding_dup_pairs,
    exact_dup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash64,
)
from .dedup import connected_components, dedup_clusters
from .ivf import IvfIndexReader, build_ivf_index, sync_ivf_index, train_kmeans
from .phrase import phrase_matches
from .similarity import (
    AnnIndexReader,
    build_ann_index,
    cosine_pairs_lsh,
    cosine_topk,
    sync_ann_index,
)
from .stats import corpus_stats, term_df
from .textstats import fingerprint, lang_id, quality_score, token_counts

__all__ = [
    "assemble_documents",
    "assign_doc_ids",
    "corpus_stats",
    "term_df",
    "bm25_score_scan",
    "doc_tokens",
    "exact_dup_groups",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash64",
    "embedding_dup_pairs",
    "embedding_dup_lsh",
    "connected_components",
    "dedup_clusters",
    "phrase_matches",
    "cosine_topk",
    "cosine_pairs_lsh",
    "AnnIndexReader",
    "build_ann_index",
    "sync_ann_index",
    "train_kmeans",
    "IvfIndexReader",
    "build_ivf_index",
    "sync_ivf_index",
    "lang_id",
    "quality_score",
    "token_counts",
    "fingerprint",
]
