"""abstracts_search_spark — a PySpark-native inverted-index + BM25 engine.

Brand-new engine with the capabilities of colonelwatch/abstracts-search
(reference at /root/reference, see SURVEY.md): incremental corpus ingest with
per-partition lineage/checkpoints, partitioned posting-list index build, and
exact top-k relevance queries — re-expressed Spark-first (DataFrame ops +
Arrow-vectorized pandas UDFs, no per-row Python, no custom Catalyst rules).
"""

from ._worker import guard_worker_zip_imports

__version__ = "0.1.0"

K1 = 1.2
B_BM25 = 0.75

guard_worker_zip_imports()
