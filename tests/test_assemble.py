"""Doc assembly + un-invert semantics (reference oa_jsonl.c:232-282, 380-410).

Includes the per-turn text-equality invariant (BASELINE.json input_hint) and
the FIXTURES.md §4 micro-fixtures.
"""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from abstracts_search_spark.functions.uninvert import invert_expr, uninvert_expr
from abstracts_search_spark.operators.assemble import assemble_documents
from abstracts_search_spark.operators.docids import assign_doc_ids


def test_per_turn_text_equality_invariant(spark, tiny_df):
    """Assembled doc == ' '.join of non-empty texts in turn_idx order, per conv."""
    docs = {r["conv_id"]: r["document"] for r in assemble_documents(tiny_df).collect()}
    raw = tiny_df.toPandas().sort_values(["conv_id", "turn_idx"])
    expected = {}
    for conv, grp in raw.groupby("conv_id"):
        texts = [t for t in grp["text"] if t is not None and t != ""]
        if texts:
            expected[conv] = " ".join(texts)
    assert docs == expected


def test_all_empty_conv_dropped(spark):
    df = spark.createDataFrame(
        [("c1", 0, ""), ("c1", 1, None), ("c2", 0, "hello")],
        "conv_id string, turn_idx int, text string",
    )
    out = {r["conv_id"]: r["document"] for r in assemble_documents(df).collect()}
    assert out == {"c2": "hello"}  # empty-doc drop, oa_jsonl.c:386-391 semantics


def test_shuffled_input_order_is_stable(spark):
    rows = [("c", i, f"t{i}") for i in range(10)]
    for perm in [rows, rows[::-1], rows[5:] + rows[:5]]:
        df = spark.createDataFrame(perm, "conv_id string, turn_idx int, text string")
        doc = assemble_documents(df).collect()[0]["document"]
        assert doc == " ".join(f"t{i}" for i in range(10))


# --- reference micro-fixtures (FIXTURES.md §4, oa_jsonl.c semantics) ---

MAP_T = T.MapType(T.StringType(), T.ArrayType(T.IntegerType()))


def _uninvert(spark, m):
    df = spark.createDataFrame([(m,)], T.StructType([T.StructField("aii", MAP_T)]))
    return df.select(uninvert_expr("aii").alias("doc")).collect()[0]["doc"]


def test_position_gaps_closed(spark):
    assert _uninvert(spark, {"a": [0], "b": [3]}) == "a b"


def test_duplicate_word_repeated(spark):
    assert _uninvert(spark, {"w": [1, 3], "x": [2]}) == "w x w"


def test_empty_map(spark):
    assert _uninvert(spark, {}) == ""


def test_null_title_branch(spark):
    # concat_ws skips nulls: title+' '+abstract vs abstract alone (oa_jsonl.c:402-410)
    df = spark.createDataFrame(
        [(None, "solo"), ("Title", "body")], "title string, abstract string"
    )
    got = [r["d"] for r in df.select(F.concat_ws(" ", "title", "abstract").alias("d")).collect()]
    assert got == ["solo", "Title body"]


def test_invert_uninvert_roundtrip(spark):
    df = spark.createDataFrame([(["a", "b", "a", "c"],)], "tokens array<string>")
    out = df.select(uninvert_expr(invert_expr("tokens")).alias("doc")).collect()[0]["doc"]
    assert out == "a b a c"


def test_language_filter_semantics(spark):
    """P2 (oa_jsonl.c:380-385): keep iff language missing/null-absent... —
    modeled as `language IS NULL OR language = 'en'` over spark.read.json rows
    where a missing key -> null."""
    df = spark.createDataFrame(
        [("d1", "en"), ("d2", "fr"), ("d3", None)], "id string, language string"
    )
    kept = {
        r["id"]
        for r in df.filter(F.col("language").isNull() | (F.col("language") == "en")).collect()
    }
    assert kept == {"d1", "d3"}


def test_assign_doc_ids_dense_and_deterministic(spark, tiny_df):
    docs = assemble_documents(tiny_df)
    with_ids = assign_doc_ids(docs, num_partitions=3)[0].select("conv_id", "doc_id").toPandas()
    by_rank = with_ids.sort_values("conv_id").reset_index(drop=True)
    assert list(by_rank["doc_id"]) == list(range(len(by_rank)))
    # start offset for incremental batches
    with_ids2 = assign_doc_ids(docs, start=100, num_partitions=2)[0].toPandas()
    assert with_ids2["doc_id"].min() == 100
