"""The zip-import guard of the package's Spark Python workers: an unchanged
archive's directory is not re-read when a task starts, a changed one is,
and the SparkSession's own process keeps the stdlib importer."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Without Spark: once installed, invalidate_caches re-reads no
    unchanged archive; a rewritten archive is re-read, so its new member
    imports."""
    from abstracts_search_spark import _worker

    zpath = str(tmp_path / "guarded.zip")
    _write_zip(zpath, {"zguard_a.py": "X = 1\n"})
    # restored at teardown: the guard stays out of this process
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(zpath)
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    try:
        assert importlib.import_module("zguard_a").X == 1
        _worker.guard_zip_imports()
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads.count(zpath) == 0

        _write_zip(zpath, {"zguard_a.py": "X = 1\n", "zguard_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(zpath) == 1
        assert importlib.import_module("zguard_b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(zpath) == 1
    finally:
        for mod in ("zguard_a", "zguard_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(zpath, None)


def _reread_probe(spark):
    """-> a one-task job answering (zip importers on the worker's path,
    archive directories one invalidate_caches() re-reads there)."""

    def rereads(it):
        import abstracts_search_spark  # noqa: F401 - installs the guard in this worker

        for _ in it:
            pass
        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({"importers": [len(importers)], "reads": [len(reads)]})

    return spark.range(1, numPartitions=1).mapInPandas(rereads, "importers int, reads int")


def test_worker_task_rereads_no_archive(spark):
    """A worker task that imports the package re-reads no archive directory
    on a later invalidate_caches(), though the worker holds zip importers
    (pyspark.zip, the Spark jar, py4j)."""
    probe = _reread_probe(spark)
    probe.collect()
    (row,) = probe.collect()
    assert row["importers"] > 0, row
    assert row["reads"] == 0, row


def test_py_file_added_mid_session_imports(spark, tmp_path):
    """A zip shipped with addPyFile after the workers installed the guard is
    importable by the next task."""
    zpath = str(tmp_path / "zguard_shipped.zip")
    _write_zip(zpath, {"zguard_shipped.py": "VALUE = 41\n"})
    _reread_probe(spark).collect()
    spark.sparkContext.addPyFile(zpath)

    def use(it):
        import abstracts_search_spark  # noqa: F401
        import zguard_shipped

        for _ in it:
            pass
        yield pd.DataFrame({"v": [zguard_shipped.VALUE + 1]})

    assert spark.range(1, numPartitions=1).mapInPandas(use, "v int").collect()[0]["v"] == 42


def test_session_process_keeps_stdlib_zipimporter(spark):
    """The guard installs only where a task context is set: in the
    SparkSession's own process, importing the package leaves the stdlib
    invalidate_caches in place."""
    from abstracts_search_spark._worker import guard_worker_zip_imports

    guard_worker_zip_imports()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
