"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup —
each expressed relationally (explode/groupBy/join: Catalyst plans the
shuffles, partial aggregation applies, small sides broadcast). Hashing is md5
hex strings so the DuckDB oracles are bit-identical; at 100 TB you would swap
md5 for xxhash64 (same plan shape, cheaper hash) — the plans don't change.

Scale notes (100 TB): the all-pairs `jaccard_pairs` is the small-data oracle;
the scale path is `minhash_lsh_pairs`, whose only wide ops are
(doc→shingle→minhash) aggregations and a band-bucket self-join whose fan-out
is controlled by band width; hot buckets (boilerplate docs) are capped with a
per-bucket size guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import no_rows
from ..functions.tokenize import get_tokenizer, tokens_expr
from .textstats import shingles_expr


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup -> (text_md5, n_dups, keep_id) for groups >1."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def _shingles_udf(n: int):
    """Arrow-vectorized shingler: text -> distinct n-word shingles.

    Chosen over the pure-Catalyst shingles_expr for hot paths: Spark evaluates
    higher-order-function lambdas interpreted (~ms/doc), while the
    tokenizer's Python ``tokens`` + join runs at ~µs/doc over Arrow
    batches. Semantics are identical (same tokenizer, same ' '-joined
    shingles; distinct-set output).
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    tokens = get_tokenizer("ascii").tokens

    def shingle_one(t: str) -> list[str]:
        toks = tokens(t)
        return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inference can't resolve for nested functions
    def _run(texts):
        return texts.map(shingle_one)

    return pandas_udf(_run, T.ArrayType(T.StringType()))


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """-> (doc_id, shingle) distinct per doc.

    Repartitions the (small) doc rows first so the shingle + hashing stage
    parallelizes even when the source is a single parquet file — at real scale
    the scan has many splits and AQE coalesces this exchange away.
    """
    spark = df.sparkSession
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(_shingles_udf(n)("_text")).alias("shingle"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top: int = 20,
    max_dict_shingles: int = 2_000_000,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard for all pairs sharing >=1 shingle.

    Returns the `top` most-similar pairs (jaccard DESC, doc_a, doc_b) —
    exact but quadratic in the worst case: the ORACLE for the LSH path.

    Plan (optimization r6, guide §2.3/§8): the old shingle self-join +
    (doc_a, doc_b) count aggregation materializes Σ_s C(df_s, 2) join rows
    and a distinct-pair hash table — measured 1.38×10^8 join rows and
    1.13×10^8 distinct pairs on a 50k-doc corpus, which made the final
    aggregation spill (27–54 s). Intersection counts are instead computed
    with the blocked-GEMM shape of ``similarity.cosine_pairs_blocked``:
    repeated shingles (global df ≥ 2 — df=1 shingles cannot contribute to
    any intersection) become a broadcast id dictionary, each doc becomes a
    sparse id set, and each (i ≤ j) block pair counts intersections in one
    vectorized numpy pass, emitting only its local top candidates. The cut
    keeps every pair whose in-group jaccard is within 3e-6 of the group's
    ``top``-th value: |round(x,6) − x| ≤ 5.1e-7, so any pair cut this way
    has ≥ ``top`` pairs strictly above it in the FINAL rounded order —
    the global top-k is provably unaffected. No pair table is ever
    shuffled; the final jaccard is computed and rounded in Catalyst exactly
    as before (same F.round, same tie order, same results).

    Falls back to the join plan when the repeated-shingle dictionary
    exceeds ``max_dict_shingles`` (this operator is the documented
    small-data ORACLE for minhash_lsh_pairs, the 100 TB path — but the
    fallback keeps it correct on any input).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # repeated shingles only (ONE row per shingle with df >= 2); the +1 row
    # detects dictionary overflow without a separate count job. Computed
    # straight from the source: caching the per-doc shingle ARRAYS was
    # measured at 3-5 s of columnar-store serialization at 50k docs — one
    # extra tokenize pass is far cheaper than materializing nested arrays.
    rep = (
        src.select(F.explode(_shingles_udf(n)("_text")).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 1)
        .select("shingle")
        .limit(max_dict_shingles + 1)
        .collect()
    )
    if len(rep) > max_dict_shingles:
        return _jaccard_pairs_join(df, id_col, text_col, n, top)
    sh_ids = {r["shingle"]: i for i, r in enumerate(rep)}
    n_dict = len(sh_ids)
    if n_dict == 0:  # no repeated shingle -> no pair shares a shingle
        return no_rows(df, "doc_a long, doc_b long, jaccard double")
    bc = spark.sparkContext.broadcast(sh_ids)
    # HASH blocks (pmod), ~sqrt(4·parallelism) of them: balanced for any id
    # distribution (incl. sparse/negative ids) with zero driver-side sizing
    # jobs; the group fn swap-normalizes cross-block pairs, so every
    # unordered pair lands in exactly one (i<=j) grid cell. A fixed block
    # COUNT keeps replication ~nblk/2 per side at any corpus size.
    par = spark.sparkContext.defaultParallelism
    nblk = max(2, int(round((4 * par) ** 0.5)))

    tokens = get_tokenizer("ascii").tokens

    def to_grid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE pass does tokenize -> shingle -> id-set AND the (i<=j) grid
        # replication (each doc emits one row per grid cell its block joins),
        # so no grid join and no second shingle computation exist in the plan
        d = bc.value
        get = d.get
        for pdf in batches:
            out = {"gi": [], "gj": [], "side": [], "vid": [], "n_sh": [], "ids": []}
            for vid, t in zip(pdf["doc_id"].to_numpy(), pdf["_text"]):
                toks = tokens(t)
                shingles = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                if not shingles:
                    continue
                ids = np.array(
                    [v for v in (get(s) for s in shingles) if v is not None],
                    dtype=np.int64,
                )
                if not ids.shape[0]:
                    continue  # no repeated shingle: the doc can pair with nothing
                b = int(vid) % nblk
                n_sh = len(shingles)
                for j in range(nblk):
                    out["gi"].append(min(b, j))
                    out["gj"].append(max(b, j))
                    out["side"].append(0 if b <= j else 1)
                    out["vid"].append(vid)
                    out["n_sh"].append(n_sh)
                    out["ids"].append(ids)
            if out["vid"]:
                yield pd.DataFrame(out)

    both = src.mapInPandas(
        to_grid, schema="gi int, gj int, side int, vid long, n_sh long, ids array<long>"
    )

    def intersect(key, pdf):
        from ..codecs.multilist import concat_aranges

        empty = pd.DataFrame(
            {"doc_a": [], "doc_b": [], "inter": [], "na": [], "nb": []}
        )
        gi_, gj_ = int(key[0]), int(key[1])
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1] if gi_ != gj_ else a
        na, nb = len(a), len(b)
        if na == 0 or nb == 0:
            return empty
        a_ids = a["ids"].to_numpy()
        b_ids = b["ids"].to_numpy()
        a_lens = np.fromiter((x.shape[0] for x in a_ids), np.int64, na)
        b_lens = np.fromiter((x.shape[0] for x in b_ids), np.int64, nb)
        if not a_lens.sum() or not b_lens.sum():
            return empty
        a_doc = np.repeat(np.arange(na, dtype=np.int64), a_lens)
        a_sh = np.concatenate([x for x in a_ids if x.shape[0]])
        b_doc = np.repeat(np.arange(nb, dtype=np.int64), b_lens)
        b_sh = np.concatenate([x for x in b_ids if x.shape[0]])
        # invert the b side: shingle id -> contiguous slice of b-doc indices
        b_order = np.argsort(b_sh, kind="stable")
        b_doc_sorted = b_doc[b_order]
        b_cnt = np.bincount(b_sh, minlength=n_dict)
        b_starts = np.zeros(n_dict + 1, dtype=np.int64)
        np.cumsum(b_cnt, out=b_starts[1:])
        # one flat gather: every (a-occurrence, matching b-doc) co-occurrence
        reps = b_cnt[a_sh]
        rows = np.repeat(a_doc, reps)
        idx = np.repeat(b_starts[a_sh], reps) + concat_aranges(reps)
        cols = b_doc_sorted[idx]
        if rows.shape[0] == 0:
            return empty
        keys = rows * nb + cols
        # in-place sort + run-length count. A dense bincount over na*nb slots
        # was tried first and is CPU-cheaper on paper, but its ~165 MB
        # zero-filled allocation per group put 50-60% of the query in KERNEL
        # time (page zeroing + TLB shootdowns across 32 workers, measured via
        # /proc/stat); the sort touches only the already-materialized keys
        keys.sort()
        starts = np.concatenate([[0], np.flatnonzero(np.diff(keys)) + 1])
        inter = np.diff(np.concatenate([starts, [keys.shape[0]]]))
        uk = keys[starts]
        r, c = uk // nb, uk % nb
        ga = a["vid"].to_numpy(np.int64)
        gb = b["vid"].to_numpy(np.int64)
        if gi_ == gj_:
            keep = r < c
            r, c, inter = r[keep], c[keep], inter[keep]
        if r.shape[0] == 0:
            return empty
        doc_a, doc_b = ga[r], gb[c]
        swap = doc_a > doc_b
        doc_a2 = np.where(swap, doc_b, doc_a)
        doc_b2 = np.where(swap, doc_a, doc_b)
        # margin-proofed local cut (see docstring): unrounded in-group
        # jaccard; keep everything within 3e-6 of the top-th value. Set
        # sizes ride along with the pair, so no size join exists downstream.
        na_k = a["n_sh"].to_numpy(np.int64)[r]
        nb_k = b["n_sh"].to_numpy(np.int64)[c]
        ja = inter / (na_k.astype(np.float64) + nb_k - inter)
        if ja.shape[0] > top:
            t_k = np.partition(ja, ja.shape[0] - top)[ja.shape[0] - top]
            keep = ja >= t_k - 3e-6
            doc_a2, doc_b2, inter = doc_a2[keep], doc_b2[keep], inter[keep]
            na_k, nb_k = na_k[keep], nb_k[keep]
        return pd.DataFrame(
            {"doc_a": doc_a2, "doc_b": doc_b2, "inter": inter, "na": na_k, "nb": nb_k}
        )

    cand = both.groupBy("gi", "gj").applyInPandas(
        intersect, "doc_a long, doc_b long, inter long, na long, nb long"
    )
    out = cand.withColumn(
        "jaccard",
        F.round(F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
    ).select("doc_a", "doc_b", "jaccard")
    return out.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(top)


def _jaccard_pairs_join(
    df: DataFrame, id_col: str, text_col: str, n: int, top: int
) -> DataFrame:
    """The original shingle self-join plan — the fallback when the repeated-
    shingle dictionary is too large to broadcast (same results, same oracle;
    quadratic join-row count, so only the escape hatch for huge vocabularies)."""
    sh = _doc_shingles(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .select("doc_a", "doc_b", "jaccard")
    )
    return out.orderBy(F.desc("jaccard"), "doc_a", "doc_b").limit(top)


def _minhash_sigs_one(toks: list[str], n: int, num_perm: int) -> list[str] | None:
    """One doc's tokens -> its num_perm MinHash signatures as md5 hex
    strings (None when the doc has no shingles). sig_p =
    min_shingle md5(shingle||'#'||p) — identical to the DuckDB oracle.

    Hot-path details (optimization r6): the md5 state over ``shingle + '#'``
    is computed once per shingle and ``.copy()``-updated per perm (md5 is a
    streaming hash — identical digests, ~num_perm× less hashing), and mins
    are taken over raw digest BYTES (hex encoding is order-preserving, so
    min-by-bytes == min-by-hex; only the final num_perm winners are hex'd).
    """
    import hashlib

    shingles = dict.fromkeys(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )
    if not shingles:
        return None
    suffixes = [str(p).encode() for p in range(num_perm)]
    mins: list[bytes | None] = [None] * num_perm
    for s in shingles:
        base = hashlib.md5(s.encode() + b"#")
        for p in range(num_perm):
            h = base.copy()
            h.update(suffixes[p])
            d = h.digest()
            if mins[p] is None or d < mins[p]:
                mins[p] = d
    return [m.hex() for m in mins]


def _minhash_sig_cols(df: DataFrame, id_col: str, text_col: str, num_perm: int, n: int) -> DataFrame:
    """-> (doc_id, sig_0..sig_{P-1}): one row per doc, P MinHash signatures.

    Optimization r6 (guide §2.4/§4.2): tokenize, shingle, hash and min run
    in ONE Arrow pass per doc (``_minhash_sigs_one``) — signatures are
    doc-local, so the old explode → 12 md5 columns → groupBy(doc).min plan
    shuffled one row per (partition, doc) and hashed every shingle
    num_perm times in full for nothing. Zero exchanges now; the md5 hex
    values (and therefore every downstream band/bucket/pair) are identical.
    """
    from typing import Iterator

    import pandas as pd

    tokens = get_tokenizer("ascii").tokens

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sig_rows = [], []
            id_arr = pdf["doc_id"].to_numpy()
            for j, t in enumerate(pdf["_text"]):
                sigs = _minhash_sigs_one(tokens(t), n, num_perm)
                if sigs is not None:
                    ids.append(id_arr[j])
                    sig_rows.append(sigs)
            out = {"doc_id": ids}
            for p in range(num_perm):
                out[f"sig_{p}"] = [s[p] for s in sig_rows]
            yield pd.DataFrame(out)

    spark = df.sparkSession
    sig_schema = ", ".join(
        [f"doc_id {df.schema[id_col].dataType.simpleString()}"]
        + [f"sig_{p} string" for p in range(num_perm)]
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .mapInPandas(run, schema=sig_schema)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    n: int = 3,
) -> DataFrame:
    """MinHash signatures as md5 hex strings -> (doc_id, perm, sig)."""
    sigs = _minhash_sig_cols(df, id_col, text_col, num_perm, n)
    arr = F.array(*[F.col(f"sig_{p}") for p in range(num_perm)])
    return sigs.select("doc_id", F.posexplode(arr).alias("perm", "sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    bands: int = 4,
    n: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """LSH candidate pairs: band docs by hashed signature slices, pair within
    buckets -> (doc_a, doc_b, n_bands) distinct candidates.

    rows-per-band r = num_perm/bands; P(candidate) = 1-(1-j^r)^bands.
    Buckets larger than `max_bucket` are dropped (boilerplate guard) — the
    skew valve for pathological buckets at scale. The whole pipeline up to the
    bucket self-join is a single narrow projection per doc.
    """
    rows_per_band = num_perm // bands
    sigs = _minhash_sig_cols(df, id_col, text_col, num_perm, n)
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{j * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
            for j in range(bands)
        ]
    )
    # narrow (doc_id, band, bucket) rows cached: the signature pass feeds the
    # guard aggregation AND both sides of the pair join — without the cache
    # the whole tokenize+minhash pass re-runs per consumer (guide §5)
    banded = sigs.select("doc_id", F.posexplode(band_arr).alias("band", "bucket")).cache()
    guard = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz")).filter(
        (F.col("bsz") > 1) & (F.col("bsz") <= max_bucket)
    )
    small = banded.join(F.broadcast(guard.select("band", "bucket")), ["band", "bucket"])
    a = small.alias("a")
    b = small.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


SIMHASH_BITS = 60  # 15 md5 hex chars — fits signed int64 in every engine


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over tokens -> (doc_id, simhash).

    Bit j of token t comes from the first 15 hex chars of md5(t) (engine-
    portable); the document bit j is sign(Σ_t tf·(2·bit_j(t)−1)). Exact
    DuckDB oracle in __spark_entry__ (generated SQL, same md5 bit source).
    """
    toks = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    h = tf.withColumn("h", F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long"))
    bits = h.select(
        "doc_id",
        *[
            (F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(-F.col("tf"))).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    sums = bits.groupBy("doc_id").agg(*[F.sum(f"b{j}").alias(f"b{j}") for j in range(SIMHASH_BITS)])
    return sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
                for j in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


# backwards-compat alias (the driver query key is simhash64)
simhash64 = simhash


def embedding_dup_pairs(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", top: int = 20) -> DataFrame:
    """EXACT embedding-cosine near-dup via blocked GEMM — the small-data
    ORACLE (quadratic compute; its block grid is a plan, not driver state).
    The production path at scale is `embedding_dup_lsh`."""
    from .similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(emb, top=top, id_col=id_col, vec_col=vec_col)


def embedding_dup_lsh(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", top: int = 20) -> DataFrame:
    """Embedding-cosine near-dup at scale: banded hyperplane LSH — pairs are
    generated only within bounded (band, bucket) groups (similarity.
    cosine_pairs_lsh), never all-pairs. The embedding analog of
    `minhash_lsh_pairs`, with the same per-bucket skew valve."""
    from .similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(emb, top=top, id_col=id_col, vec_col=vec_col)


class _Checkpointer:
    """Checkpoint DataFrames with REAL cleanup of superseded rounds.

    ``DataFrame.unpersist`` on a checkpointed frame is a no-op (it only drops
    cache-manager entries, not the checkpointed RDD's blocks/files), so an
    iterative algorithm would accumulate one round's worth of executor
    storage per iteration until the ContextCleaner happens to GC it. This
    helper reaches the actual checkpointed RDD through the frame's analyzed
    plan (a ``LogicalRDD``) and, on ``release``, unpersists its blocks
    (localCheckpoint) or deletes its checkpoint directory via the Hadoop FS
    API (durable checkpoint) — deterministic storage, no GC timing.
    """

    def __init__(self, spark):
        self.spark = spark
        self.durable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    def checkpoint(self, df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if self.durable else df.localCheckpoint(eager=True)

    def release(self, df: DataFrame) -> None:
        # best-effort by design (ADVICE r4): failing to free a DEAD round's
        # checkpoint is a storage nicety, never a correctness problem — the
        # algorithm's result is already materialized when release runs, so no
        # cleanup error (JVM reflection, Hadoop FS delete) may abort it
        try:
            rdd = df._jdf.queryExecution().analyzed().rdd()
            if self.durable:
                opt = rdd.getCheckpointFile()
                if opt.isDefined():
                    jvm = self.spark._jvm
                    p = jvm.org.apache.hadoop.fs.Path(opt.get())
                    fs = p.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
                    fs.delete(p, True)
            rdd.unpersist(False)
        except Exception:
            return


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a pair graph -> (doc_id, cluster_id), where
    ``cluster_id`` is the smallest node id in the component.

    The missing step between near-dup PAIRS (minhash_lsh_pairs /
    embedding_dup_lsh) and actionable dedup: transitively-linked documents
    form one cluster with one canonical representative. Distributed min-label
    propagation with POINTER JUMPING: per round every node takes the min
    label over itself and its neighbors (one join + one groupBy), then
    shortcuts through its own label (``comp ← comp(comp)``, one more join) —
    the label-distance to the component minimum roughly doubles away each
    round, so convergence is O(log diameter) rounds instead of O(diameter)
    (union-find path halving, the same contraction idea as the
    large-star/small-star MapReduce algorithm). A 10k-node path graph
    converges in ~15 rounds (tested). Invariant kept by both steps: a node's
    label is always the id of a node in ITS component and never increases, so
    the fixpoint is the component minimum.

    Each round's labels are checkpointed (durable when the session has a
    checkpoint dir, executor-local otherwise) so the plan never grows with
    iterations, and the PREVIOUS round's checkpoint is freed at the RDD level
    once its successor is materialized (_Checkpointer.release).
    """
    spark = edges.sparkSession
    ck = _Checkpointer(spark)
    # materialized ONCE: every round's join re-reads this checkpoint instead
    # of re-running the union+distinct shuffle from source
    sym = ck.checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
    )
    labels = ck.checkpoint(
        sym.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    )
    prev_ck = labels  # the checkpointed frame itself (release needs its plan)
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("mid"),
        )
        # pointer jump: follow the label one hop (mid(u) is a node; take ITS
        # mid) — labels only decrease, so least() is just safety
        ptr = stepped.select(F.col("node").alias("pnode"), F.col("mid").alias("pcomp"))
        new_comp = F.least(F.col("mid"), F.coalesce(F.col("pcomp"), F.col("mid")))
        new_labels = ck.checkpoint(
            stepped.join(ptr, stepped.mid == ptr.pnode, "left").select(
                "node",
                new_comp.alias("comp"),
                (new_comp < F.col("old_comp")).alias("chg"),
            )
        )
        changed = new_labels.filter(F.col("chg")).count()
        ck.release(prev_ck)  # previous round's checkpoint is dead now
        prev_ck = new_labels
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    if changed != 0:
        # silent non-convergence would split clusters (multiple 'canonical'
        # docs in one true component) — fail loudly; with pointer jumping
        # max_iter=25 covers component diameters up to ~10^7
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing): component diameter exceeds "
            "2^max_iter-ish reach"
        )
    out = labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    ck.release(sym)
    return out


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    bands: int = 4,
    n: int = 3,
    max_bucket: int = 50,
) -> DataFrame:
    """MinHash-LSH near-dup pairs -> transitive clusters -> keep/drop verdict.

    -> (doc_id, cluster_id, keep) for every document that belongs to a
    near-dup cluster: ``keep`` marks the canonical representative (the
    cluster's smallest doc_id); everything else is the drop set. The
    end-to-end shape of production corpus dedup at 100 TB: bounded LSH
    pair generation (no all-pairs stage), then label propagation over the
    (tiny relative to the corpus) pair graph only.
    """
    pairs = minhash_lsh_pairs(
        docs, id_col=id_col, text_col=text_col, num_perm=num_perm, bands=bands,
        n=n, max_bucket=max_bucket,
    )
    comp = connected_components(pairs, src_col="doc_a", dst_col="doc_b")
    # keep as int (1 = canonical representative): engine-portable, and every
    # oracle comparator hashes ints identically (booleans vary by engine)
    return comp.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )
