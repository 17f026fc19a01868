"""Table facade (SURVEY.md §7d): every index artifact goes through
``read_table`` / ``commit`` so the storage layer is swappable by config.

Two backends:

- **parquet** (default, what this sandbox runs): plain directories under the
  index root. ``commit(mode="overwrite")`` is made crash-atomic with a
  write-to-temp-then-swap protocol (write ``<name>.__tmp`` → move the live
  dir to ``<name>.__old`` → rename temp into place → drop ``__old``); a crash
  at any step leaves either the old or the new complete table, and
  ``read_table`` knows how to roll back the one ambiguous window (live dir
  missing, ``__old`` present). ``commit_generation`` appends one whole
  ``gen=G`` directory the same way (write under ``<name>.__staged`` → one
  rename into place), so a generation is either all there or absent; the
  build's orphan-generation scrub + lineage-last ordering make reruns
  idempotent (plans/build.py), which is this engine's `make recover`
  contract (the reference's Makefile:98-101).
- **iceberg**: when ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` (and an Iceberg
  catalog is on the session), tables are read/written through the catalog and
  every commit is an Iceberg snapshot — the reference's atomic grouped-target
  commit (`&:` in Makefile:24,31) done properly. The runtime jars are not in
  this sandbox, so the branch is config-gated and errors out loudly rather
  than silently falling back.

``_FAIL_AFTER`` is a test-only crash-injection hook: set it to a table name
and the facade raises immediately after that table's commit completes —
tests/test_tables.py uses it to prove rerun-convergence around every write
boundary.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

# test hook: name of the table AFTER whose commit a simulated crash fires
_FAIL_AFTER: str | None = None


class InjectedCrash(RuntimeError):
    """Raised by the crash-injection hook (never in production paths)."""


def _backend() -> str:
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def _iceberg_table(root: str, name: str) -> str:
    # the index root maps to a namespace; catalog name from the env flip
    cat = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog")
    ns = os.path.basename(os.path.normpath(root)).replace("-", "_").replace(".", "_")
    return f"{cat}.{ns}.{name}"


def heal_table(root: str, name: str) -> None:
    """Roll back the one ambiguous crash window of the swap protocol: a
    previous overwrite moved the live table aside (``<name>.__old``) and
    died before renaming the new one in. ``read_table`` calls this on every
    read; writers that touch a table's DIRECTORY without reading it first
    (generation scrubs, appends) must call it themselves, or a post-crash
    append would create a fresh table next to the stranded ``__old`` and the
    rollback would never run again."""
    if _backend() == "iceberg":
        return
    path = os.path.join(root, name)
    old = path + ".__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def read_table(spark: SparkSession, root: str, name: str, schema: str | None = None) -> DataFrame:
    """Read one index artifact table. Partition columns (bucket=…, src_part=…)
    are recovered from the directory layout via basePath.

    ``schema`` (DDL: data columns, then the partition columns) declares the
    table's columns, so the read runs no schema-inference job (Spark reads
    a parquet footer in a job of its own otherwise). The Iceberg catalog
    carries its own schema and ignores it."""
    if _backend() == "iceberg":
        return spark.read.table(_iceberg_table(root, name))
    heal_table(root, name)
    path = os.path.join(root, name)
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def table_exists(root: str, name: str) -> bool:
    if _backend() == "iceberg":
        raise NotImplementedError("iceberg backend requires catalog jars not in this sandbox")
    path = os.path.join(root, name)
    if not os.path.exists(path) and os.path.exists(path + ".__old"):
        return True
    return os.path.exists(path) and any(
        f.endswith(".parquet") or f.startswith(("part=", "bucket=", "src_part=", "gen="))
        for f in os.listdir(path)
    )


def commit(
    df: DataFrame,
    root: str,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    repartition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    compression: str | None = None,
    row_group_bytes: int | None = None,
) -> None:
    """Write one index artifact table.

    ``repartition_by`` co-partitions the write with the directory layout (one
    file per partition dir — file count is driver-serial cost); ``sort_by``
    orders rows within files so parquet row-group min/max stats prune reads.
    A partitioned write sorts its rows by ``partition_by`` itself and drops
    any sort below that one, so ``sort_by`` is applied after the partition
    columns (without them, no file would be ``sort_by``-ordered).
    ``compression`` overrides the parquet codec — posting/segment blobs are
    already-varint-packed high-entropy bytes, so general-purpose compression
    wastes CPU + memory bandwidth for near-zero ratio; those tables pass
    "uncompressed". ``row_group_bytes`` sets parquet.block.size — postings
    use small row groups so the pushed In(term_id,…) predicate prunes at
    row-group granularity inside each bucket file (the reference controls
    the same knob: --row-group-size, /root/reference/Makefile:48).
    """
    out = df
    if repartition_by:
        out = out.repartition(*repartition_by)
    if sort_by:
        out = out.sortWithinPartitions(*(partition_by or []), *sort_by)

    if _backend() == "iceberg":
        writer = out.writeTo(_iceberg_table(root, name))
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        _maybe_crash(name)
        return

    path = os.path.join(root, name)

    def write(target: str, write_mode: str) -> None:
        writer = out.write.mode(write_mode)
        if compression:
            writer = writer.option("compression", compression)
        if row_group_bytes:
            writer = writer.option("parquet.block.size", str(row_group_bytes))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)

    if mode == "append":
        write(path, "append")
        _maybe_crash(name)
        return

    # crash-atomic overwrite: tmp → swap → drop old
    tmp, old = path + ".__tmp", path + ".__old"
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    write(tmp, "overwrite")
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    _maybe_crash(name)


def commit_generation(df: DataFrame, root: str, name: str, gen: int, **opts) -> None:
    """Append generation ``gen`` of a ``gen``-partitioned table, crash-atomic:
    the rows (without a ``gen`` column) are written under
    ``<name>.__staged/gen=G`` — outside the table, so no reader lists them —
    and then renamed to ``<name>/gen=G`` in one step. A crash leaves either
    the whole generation or none of it; ``opts`` are :func:`commit`'s."""
    if _backend() == "iceberg":
        from pyspark.sql import functions as F

        parts = ["gen", *(opts.pop("partition_by", None) or [])]
        commit(df.withColumn("gen", F.lit(gen)), root, name, mode="append",
               partition_by=parts, **opts)
        return
    heal_table(root, name)
    staged = os.path.join(root, f"{name}.__staged")
    if os.path.exists(staged):
        shutil.rmtree(staged)
    commit(df, staged, f"gen={gen}", **opts)
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    os.rename(os.path.join(staged, f"gen={gen}"), os.path.join(path, f"gen={gen}"))
    shutil.rmtree(staged)
    _maybe_crash(name)


def generations(root: str, name: str) -> list[int]:
    """The ``gen=G`` directories of a generation-partitioned table, ascending."""
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(path) if d.startswith("gen="))


def scrub_orphan_generations(root: str, name: str, next_gen: int) -> None:
    """Remove ``gen=G`` dirs at/past ``next_gen`` — the output of a write
    that crashed before its commit marker (the text index's lineage, a
    vector index's params). Callers run it before appending, so replays
    converge instead of stacking a second copy of the rows. Heals a crashed
    overwrite's ``<name>.__old`` first: an append would otherwise strand the
    whole old table."""
    heal_table(root, name)
    for g in generations(root, name):
        if g >= next_gen:
            shutil.rmtree(os.path.join(root, name, f"gen={g}"))


def write_params(path: str, params: dict) -> None:
    """Atomic write of an index's params JSON, its completeness marker:
    tmp + os.replace, so a crash mid-write leaves the previous complete
    marker, never truncated JSON."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, path)


def _maybe_crash(name: str) -> None:
    if _FAIL_AFTER == name:
        raise InjectedCrash(f"injected crash after committing '{name}'")
