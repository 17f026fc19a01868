"""spark-submit entry point (north_rule: `spark-submit --py-files`).

    python scripts/make_pyfiles.py                     # -> dist/abstracts_search_spark.zip
    spark-submit --py-files dist/abstracts_search_spark.zip \
        -- abstracts_search_spark/cli.py build --transcripts DIR --index DIR

Subcommands mirror the reference Makefile targets (/root/reference/Makefile):
`build` ≙ make all (incremental ingest + fill), `stream` ≙ the same via
Structured Streaming checkpoints, `tune` ≙ make tune (Makefile:31-32),
`query` ≙ the query path (README.md:16,28).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="abstracts_search_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="incremental index build (anti-join vs lineage)")
    b.add_argument("--transcripts", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--shard-docs", type=int, default=1 << 14)
    b.add_argument("--max-parts", type=int, default=None)
    b.add_argument("--positions", action="store_true",
                   help="carry the positional stream (enables `phrase`)")
    b.add_argument("--tokenizer", choices=["ascii", "unicode"], default="ascii",
                   help="token contract of the index (fixed at first ingest)")

    s = sub.add_parser("stream", help="incremental build via Structured Streaming")
    s.add_argument("--transcripts", required=True)
    s.add_argument("--index", required=True)
    s.add_argument("--buckets", type=int, default=64)
    s.add_argument("--shard-docs", type=int, default=1 << 14)

    t = sub.add_parser("tune", help="sweep query params -> params.json")
    t.add_argument("--index", required=True)

    c = sub.add_parser("compact", help="fold postings generations back to gen=0")
    c.add_argument("--index", required=True)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--shard-docs", type=int, default=1 << 14)

    q = sub.add_parser("query", help="top-k BM25 query")
    q.add_argument("--index", required=True)
    q.add_argument("--text", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--method", choices=["bmw", "taat", "auto"], default=None)

    ph = sub.add_parser("phrase", help="exact phrase top-k over a positional index")
    ph.add_argument("--index", required=True)
    ph.add_argument("--text", required=True)
    ph.add_argument("-k", type=int, default=20)

    ab = sub.add_parser("ann-build", help="build the LSH-bucketed ANN index")
    ab.add_argument("--embeddings", required=True, help="parquet with (vec_id, embedding)")
    ab.add_argument("--index", required=True)
    ab.add_argument("--planes", type=int, default=None,
                    help="hyperplane count (default: auto-sized to the corpus)")
    ab.add_argument("--seed", type=int, default=42)

    ib = sub.add_parser("ivf-build", help="train k-means cells + build the IVF index")
    ib.add_argument("--embeddings", required=True, help="parquet with (vec_id, embedding)")
    ib.add_argument("--index", required=True)
    ib.add_argument("--lists", type=int, default=None,
                    help="inverted-list count (default: auto-sized to the corpus)")
    ib.add_argument("--iters", type=int, default=2, help="Lloyd iterations")
    ib.add_argument("--nprobe", type=int, default=2, help="default probe width")
    ib.add_argument("--quantize", choices=["none", "sq8", "sq8r"], default="none",
                    help="sq8 stores vectors as uint8 codes (4x smaller than "
                         "float32); sq8r codes the residual vs the cell centroid "
                         "(tighter range, the FAISS IVF-PQ shape)")
    ib.add_argument("--train-sample-mod", type=int, default=1,
                    help="train centroids on the 1/m sample vec_id %% m == 0")

    _add_vector_commands(sub)

    args = p.parse_args(argv)

    from abstracts_search_spark.session import build_spark

    spark = build_spark(f"ass-{args.cmd}")
    try:
        if args.cmd == "build":
            from abstracts_search_spark.plans.build import build_index

            m = build_index(
                spark, args.transcripts, args.index,
                buckets=args.buckets, shard_docs=args.shard_docs, max_parts=args.max_parts,
                with_positions=args.positions, tokenizer=args.tokenizer,
            )
            print(json.dumps(m))
        elif args.cmd == "stream":
            from abstracts_search_spark.streaming.incremental import stream_build

            print(json.dumps(stream_build(
                spark, args.transcripts, args.index,
                buckets=args.buckets, shard_docs=args.shard_docs,
            )))
        elif args.cmd == "tune":
            from abstracts_search_spark.plans.tune import tune_index

            print(json.dumps(tune_index(spark, args.index)))
        elif args.cmd == "compact":
            from abstracts_search_spark.plans.build import compact_index

            compact_index(spark, args.index, buckets=args.buckets, shard_docs=args.shard_docs)
            print(json.dumps({"compacted": args.index}))
        elif args.cmd == "query":
            from abstracts_search_spark.plans.query import IndexReader

            reader = IndexReader(spark, args.index)
            rows = reader.query(args.text, k=args.k, method=args.method).collect()
            for r in rows:
                print(json.dumps({"doc_id": r["doc_id"], "conv_id": r["conv_id"], "score": r["score"]}))
        elif args.cmd == "phrase":
            from abstracts_search_spark.plans.query import IndexReader

            reader = IndexReader(spark, args.index)
            for r in reader.phrase_query(args.text, k=args.k).collect():
                print(json.dumps({"doc_id": r["doc_id"], "n_hits": r["n_hits"]}))
        elif args.cmd == "ann-build":
            from abstracts_search_spark.operators.similarity import AnnIndexReader, build_ann_index

            build_ann_index(
                spark.read.parquet(args.embeddings), args.index,
                n_planes=args.planes, seed=args.seed,
            )
            _print_params(args.index, AnnIndexReader)
        elif args.cmd == "ivf-build":
            from abstracts_search_spark.operators.ivf import IvfIndexReader, build_ivf_index

            build_ivf_index(
                spark.read.parquet(args.embeddings), args.index,
                n_lists=args.lists, iters=args.iters, nprobe=args.nprobe,
                quantize=args.quantize, train_sample_mod=args.train_sample_mod,
            )
            _print_params(args.index, IvfIndexReader)
        else:
            _run_vector_command(spark, args)
    finally:
        spark.stop()
    return 0


def _add_vector_commands(sub) -> None:
    """``{ann,ivf}-{sync,tune,query,compact,info}``: the same five lifecycle
    subcommands for each vector family, run by the shared bodies of
    operators/vecindex. A family's probe knob names its query flag
    (``--probe-hamming`` / ``--nprobe``)."""
    from abstracts_search_spark.operators.ivf import IvfIndexReader
    from abstracts_search_spark.operators.similarity import AnnIndexReader

    for fam, cls in (("ann", AnnIndexReader), ("ivf", IvfIndexReader)):
        pf = cls._spec.params_file
        sn = sub.add_parser(f"{fam}-sync", help="append a new vector batch as the next generation")
        sn.add_argument("--embeddings", required=True)
        sn.add_argument("--tag", required=True, help="batch content identity (idempotency key)")
        tn = sub.add_parser(f"{fam}-tune", help=f"sweep {cls.knob}, record recall@k in {pf}")
        tn.add_argument("-k", type=int, default=10)
        qr = sub.add_parser(f"{fam}-query", help="top-k cosine probe of the index")
        qr.add_argument("--embeddings", required=True,
                        help="parquet holding the query vector's row")
        qr.add_argument("--vec-id", type=int, required=True)
        qr.add_argument("-k", type=int, default=10)
        qr.add_argument("--" + cls.knob.replace("_", "-"), dest="knob", metavar=cls.knob.upper(),
                        type=int, default=None,
                        help=f"probe width (default: the tuned value in {pf})")
        cp = sub.add_parser(f"{fam}-compact", help="fold all generations back into gen=0")
        info = sub.add_parser(f"{fam}-info", help="cell-occupancy stats (probe-cost balance)")
        for sp, action in ((sn, "sync"), (tn, "tune"), (qr, "query"), (cp, "compact"), (info, "info")):
            sp.add_argument("--index", required=True)
            sp.set_defaults(family=cls, action=action)


def _print_params(index_dir: str, cls) -> None:
    from abstracts_search_spark.operators import vecindex

    print(json.dumps(vecindex.read_params(index_dir, cls._spec)))


def _run_vector_command(spark, args) -> None:
    from pyspark.sql import functions as F

    from abstracts_search_spark.operators import vecindex

    cls = args.family
    if args.action == "sync":
        appended = vecindex.sync(cls, spark.read.parquet(args.embeddings), args.index,
                                 src_tag=args.tag)
        print(json.dumps({"appended": bool(appended), "tag": args.tag}))
    elif args.action == "compact":
        folded = vecindex.compact_generations(spark, args.index, cls._spec)
        print(json.dumps({"folded_gens": folded}))
    elif args.action == "tune":
        print(json.dumps(vecindex.tune(cls(spark, args.index), k=args.k)))
    elif args.action == "info":
        print(json.dumps(vecindex.cell_stats(cls(spark, args.index))))
    else:
        row = (
            spark.read.parquet(args.embeddings)
            .filter(F.col("vec_id") == args.vec_id)
            .first()
        )
        if row is None:
            raise SystemExit(f"vec_id {args.vec_id} not found in {args.embeddings}")
        qv = [float(x) for x in row["embedding"]]
        for r in cls(spark, args.index).topk(qv, k=args.k, **{cls.knob: args.knob}).collect():
            print(json.dumps({"vec_id": r["vec_id"], "cos": r["cos"]}))


if __name__ == "__main__":
    sys.exit(main())
