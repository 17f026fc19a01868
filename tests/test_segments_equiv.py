"""The one posting encoder against the brute tokenizer oracle.

pack_doc_tokens → build_segments_packed must emit exactly one row per
(bucket, shard, term) whose decoded postings are that term's documents in
ascending order with the tf and doclen the brute path
(operators/bm25_brute.doc_tokens, pinned against DuckDB in
test_bm25_brute.py) computes, whose positional stream lists each
occurrence's within-document token index, and whose lineage counts match.
"""

from collections import defaultdict

from pyspark.sql import functions as F

from abstracts_search_spark.codecs.multilist import decode_posting_lists
from abstracts_search_spark.codecs.postings import decode_posting_list
from abstracts_search_spark.functions.tokenize import doclen_expr, get_tokenizer
from abstracts_search_spark.operators.assemble import assemble_documents
from abstracts_search_spark.operators.bm25_brute import doc_tokens
from abstracts_search_spark.operators.docids import assign_doc_ids
from abstracts_search_spark.operators.postings import (
    PartCounts,
    build_segments_packed,
    pack_doc_tokens,
    term_id_of,
)

BUCKETS, SHARD_DOCS = 4, 8


def test_encoder_matches_brute_oracle(spark, tiny_df):
    docs = assign_doc_ids(assemble_documents(tiny_df), num_partitions=2)[0].select(
        "doc_id", F.lit(0).alias("src_part"),
        doclen_expr("document").cast("int").alias("doclen"), "document",
    ).filter(F.col("doclen") > 0).cache()
    packed = pack_doc_tokens(docs, buckets=BUCKETS, shard_docs=SHARD_DOCS, with_positions=True)
    counts = spark.sparkContext.accumulator({}, PartCounts())
    rows = build_segments_packed(packed, counts).collect()

    got, seen = {}, set()
    for r in rows:
        d = r.asDict()
        key = (d["bucket"], d["shard"], d["term_id"])
        assert key not in seen  # one row per (bucket, shard, term)
        seen.add(key)
        assert d["bucket"] == d["term_id"] % BUCKETS
        ds, tfs, dls = decode_posting_list(d)
        assert ds.tolist() == sorted(ds.tolist()) and len(ds) == d["df"]
        assert {int(x) // SHARD_DOCS for x in ds} == {d["shard"]}
        for doc, tf, dl in zip(ds.tolist(), tfs.tolist(), dls.tolist()):
            got[(d["term_id"], doc)] = (tf, dl)

    want = {
        (term_id_of(r["term"]), r["doc_id"]): (r["tf"], r["doclen"])
        for r in doc_tokens(docs.select("doc_id", "document")).collect()
    }
    assert got == want and len(want) > 100
    # the lineage numbers counted while encoding: (term, doc) entries and
    # (term, shard) lists of the one source partition
    assert counts.value == {0: (len(want), len(seen))}

    # positions: the decoded stream of each posting row equals a per-text
    # re-tokenization of the row's documents
    tokens = get_tokenizer("ascii").tokens
    occ = defaultdict(list)
    for r in docs.collect():
        doc, ts = r["doc_id"], tokens(r["document"])
        for i, t in enumerate(ts):
            occ[(term_id_of(t), doc)].append(i)
    for r in rows[:200]:
        ds, tfs, _, _, pos = decode_posting_lists(
            [bytes(r["doc_bin"])], [bytes(r["tf_bin"])], [bytes(r["dl_bin"])],
            [r["df"]], pos_bins=[bytes(r["pos_bin"])],
        )
        flat = [p for doc in ds.tolist() for p in occ[(r["term_id"], doc)]]
        assert pos.tolist() == flat
