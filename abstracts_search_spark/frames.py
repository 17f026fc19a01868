"""Small DataFrames that cost no Spark job or Python-worker task.

Two shapes are shared by the text and the vector families:

- :func:`no_rows` — an empty answer (a query with no indexed term, a phrase
  that tokenizes to nothing, a corpus without repeated shingles);
- :func:`local_frame` — a few driver-side rows written as a table (lineage,
  stats, IVF centroids).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string


def no_rows(handle: DataFrame, schema: str) -> DataFrame:
    """An empty DataFrame of ``schema`` that runs no Spark job: ``limit(0)``
    over any frame folds to an empty local relation, where
    ``createDataFrame([], schema)`` is RDD-backed and costs a job."""
    fields = _parse_datatype_string(schema).fields
    return handle.limit(0).select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s column order, at least
    one) as a DataFrame handed over as one Arrow table: the JVM reads it
    directly, where ``createDataFrame(rows)`` is RDD-backed and runs
    Python-worker tasks to unpickle the rows in every job that reads them."""
    struct = _parse_datatype_string(schema)
    columns = [pa.array(list(c)) for c in zip(*rows)]
    return spark.createDataFrame(pa.table(columns, names=struct.fieldNames()), struct)
