import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from abstracts_search_spark.functions.tokenize import get_tokenizer, tokens_expr

ASCII = get_tokenizer("ascii")

CASES = [
    "Hello, World! 123",
    "user: run the QUERY plan",
    "",
    "—— ☃ !!!",
    "déjà—vu snow☃man",  # non-ASCII are separators: -> ['d', 'j', 'vu', ...]
    "a-b_c.d e\tf\ng",
    "UPPER lower MiXeD 42x7",
    None,
]


def _expand(lens, codes, terms):
    """TokenizerSpec.batch output -> one token list per text."""
    flat, out, i = terms[codes].tolist(), [], 0
    for n in lens.tolist():
        out.append(flat[i : i + n])
        i += n
    return out


def test_pandas_vs_expr_vs_udf(spark):
    """tokens() == batch() == the Catalyst form == tokens() run inside an
    executor's pandas UDF."""
    expected = [ASCII.tokens(c) for c in CASES]
    assert _expand(*ASCII.batch(CASES)) == expected

    @pandas_udf(T.ArrayType(T.StringType()))
    def tokens_udf(texts: pd.Series) -> pd.Series:
        return texts.map(ASCII.tokens)

    sdf = spark.createDataFrame(pd.DataFrame({"text": CASES}))
    got = sdf.select(tokens_expr("text").alias("e"), tokens_udf("text").alias("u")).toPandas()
    for i in range(len(CASES)):
        assert list(got["e"][i]) == expected[i], f"expr mismatch on {CASES[i]!r}"
        assert list(got["u"][i]) == expected[i], f"udf mismatch on {CASES[i]!r}"


def test_duckdb_oracle_matches():
    con = duckdb.connect()
    expr = ASCII.duckdb_sql.format(col="text")
    df = pd.DataFrame({"text": [c for c in CASES if c is not None]})
    con.register("t", df)
    rows = con.sql(f"select {expr} as toks from t").fetchall()
    for i, (toks,) in enumerate(rows):
        assert list(toks) == ASCII.tokens(df["text"][i])


def test_doclen_expr_equals_udf(spark):
    """The JVM token count == the batch pass's per-text lengths, computed
    in an executor's pandas UDF."""
    from abstracts_search_spark.functions.tokenize import doclen_expr

    @pandas_udf(T.IntegerType())
    def doclen_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(ASCII.batch(texts)[0]).astype("int32")

    rows = [
        (0, "The cat sat. 42 times!"),
        (1, None),
        (2, ""),
        (3, "  ---  "),
        (4, "a" * 5000 + " b2c"),
        (5, "Ünïcödé sépàrätors stay separators: çà12çb"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = df.select(
        "i",
        doclen_expr("t").alias("jvm"),
        F.coalesce(doclen_udf(F.col("t")), F.lit(0)).alias("py"),
    ).collect()
    for r in got:
        assert r["jvm"] == r["py"], r
