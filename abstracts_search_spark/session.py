"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; on a real cluster the same builder is
used by ``spark-submit --py-files`` (master comes from the environment).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Spark refuses a spark.python.unix.domain.socket.dir longer than this; under
# it, PySpark's socket paths <dir>/.<uuid4>.sock also fit AF_UNIX's 107 bytes
_SOCKET_DIR_MAX = 61
_SOCKET_DIR_PREFIX = "uds-"


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def _socket_dir() -> str:
    """A private directory for one SparkContext's Unix domain sockets, under
    the process temp dir when its path fits Spark's limit, else under /tmp.
    Spark removes the socket files at stop(); the directory goes at exit."""
    base = tempfile.gettempdir()
    # mkdtemp appends "/" + prefix + 8 random characters
    if len(os.fsencode(base)) + 1 + len(_SOCKET_DIR_PREFIX) + 8 > _SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
    atexit.register(shutil.rmtree, path, True)
    return path


def build_spark(
    app_name: str = "abstracts_search_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    - AQE on (runtime coalesce + skew-join handling for the relational parts;
      grouped-map skew is handled by the engine's own sharding, SURVEY.md §4).
    - Arrow on (every heavy per-row op is a vectorized pandas UDF).
    - UTC session TZ so DuckDB-oracle comparisons are stable.
    - Local masters talk to their Python workers over Unix domain sockets:
      on loopback TCP every UDF task waited ~40 ms for its first Arrow
      batch. Cluster masters keep Spark's TCP default, since their
      executors' temp dirs are unknown here.
    """
    # make this package importable inside executor Python workers regardless
    # of the driver's cwd (the spark-submit equivalent is --py-files; in
    # local/client mode workers inherit the driver environment, so prepending
    # the package parent to PYTHONPATH before the session starts is enough)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + existing if existing else "")

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # v2 commit: task outputs move to the destination at task commit time
        # instead of a driver-serial rename pass at job commit
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if SparkContext._active_spark_context is None and _is_local(master):
        builder = (
            builder.config("spark.python.unix.domain.socket.enabled", "true")
            .config("spark.python.unix.domain.socket.dir", _socket_dir())
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
