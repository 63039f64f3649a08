"""Tier-table storage backends: parquet (default) and Iceberg.

BASELINE.json mandates the retention tiers as incrementally-maintained
Iceberg tables. This sandbox ships no ``iceberg-spark-runtime`` jar, so the
storage seam is an explicit interface instead of an asserted "one-line
swap": ``TierPipeline`` talks only to :class:`StorageBackend` and uses
:class:`ParquetBackend` unless the caller passes another backend. Iceberg
is used only when a caller passes ``IcebergBackend()``, which needs the
runtime jar on the session classpath (:func:`iceberg_available`). The tier
e2e tests parameterize over both backends and skip the Iceberg leg cleanly
when the jar is absent (tests/test_storage_backend.py), so
checkpoint/lineage behavior is pinned to be backend-independent.

Both backends implement the same contract the pipeline needs:

- ``overwrite_partitions(df, ref, partition_cols)`` -- dynamic partition
  overwrite: only the partitions present in ``df`` are replaced (Iceberg:
  ``writeTo(...).overwritePartitions()``; parquet:
  ``partitionOverwriteMode=dynamic``). This is what makes incremental
  reruns idempotent.
- ``read(spark, ref, schema=None)`` -- full-table read (partition pruning
  comes from downstream filters either way). A known ``schema`` spares
  parquet its schema-inference job; Iceberg tables carry their own.
- ``ref(base_dir, name)`` -- backend-native table reference (a path for
  parquet, a catalog table identifier for Iceberg).
- ``append(df, ref)`` -- append-only side tables (lineage metrics).
- ``partition_stats(spark, ref, keep)`` -- the committed partitions of a
  table with their row count and on-disk bytes, read from what the write
  left behind (parquet: file listing + footers; Iceberg: the
  ``.partitions`` metadata table), so lineage costs no Spark job.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "StorageBackend",
    "ParquetBackend",
    "IcebergBackend",
    "iceberg_available",
]


def iceberg_available(spark: SparkSession) -> bool:
    """True when an iceberg-spark-runtime jar is resolvable on the session's
    JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class StorageBackend:
    """Contract between TierPipeline and the physical table format."""

    def ref(self, base_dir: str, name: str) -> str:
        raise NotImplementedError

    def exists(self, spark: SparkSession, ref: str) -> bool:
        raise NotImplementedError

    def overwrite_partitions(
        self, df: DataFrame, ref: str, partition_cols: list[str]
    ) -> None:
        raise NotImplementedError

    def read(
        self, spark: SparkSession, ref: str, schema: StructType | None = None
    ) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, ref: str) -> None:
        raise NotImplementedError

    def partition_stats(
        self,
        spark: SparkSession,
        ref: str,
        keep: Callable[[dict], bool] | None = None,
    ) -> list[dict]:
        """One dict per committed partition of ``ref``: its (integer)
        partition values plus ``rows`` and ``bytes`` on disk. ``keep`` is
        called with the partition values known so far (outermost column
        first) and prunes a partition subtree by returning False."""
        raise NotImplementedError


def _hidden(name: str) -> bool:
    # Spark's convention: _SUCCESS, _temporary, .crc siblings are not data
    return name.startswith(("_", "."))


def _part_value(name: str) -> tuple[str, int] | None:
    """``p_day=123`` -> ("p_day", 123); None for non-partition entries."""
    col, sep, val = name.partition("=")
    return (col, int(val)) if sep and not _hidden(name) else None


class ParquetBackend(StorageBackend):
    """Plain partitioned parquet with dynamic partition overwrite."""

    def ref(self, base_dir: str, name: str) -> str:
        return os.path.join(base_dir, name)

    def exists(self, spark: SparkSession, ref: str) -> bool:
        from .stateio import StateIO

        return StateIO(spark).exists(ref)

    def overwrite_partitions(
        self, df: DataFrame, ref: str, partition_cols: list[str]
    ) -> None:
        spark = df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(ref)
        )

    def read(
        self, spark: SparkSession, ref: str, schema: StructType | None = None
    ) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(ref)

    def append(self, df: DataFrame, ref: str) -> None:
        df.write.mode("append").parquet(ref)

    def partition_stats(
        self,
        spark: SparkSession,
        ref: str,
        keep: Callable[[dict], bool] | None = None,
    ) -> list[dict]:
        """Walk the ``col=value`` dirs under ``ref``; rows come from the
        parquet footers, bytes from the data files' sizes. Scheme paths
        (``file://``, ``hdfs://``, ``s3a://``) go through the Hadoop
        FileSystem, scheme-less ones through the local OS and pyarrow -- the
        same routing as :class:`~.stateio.StateIO`. The local Hadoop FS
        forks a ``stat`` per file status: a footer read that way took ~4 ms
        against ~0.04 ms through pyarrow (4-core VM)."""
        keep = keep or (lambda _part: True)
        ls, num_rows, root = (
            _hadoop_fs(spark, ref) if "://" in ref else _local_fs(ref)
        )
        out = []

        def walk(path, part: dict) -> None:
            files = []
            for name, is_dir, child, size in ls(path):
                kv = _part_value(name) if is_dir else None
                if kv is not None:
                    sub = {**part, kv[0]: kv[1]}
                    if keep(sub):
                        walk(child, sub)
                elif not is_dir and not _hidden(name):
                    files.append((child, size))
            if files and part:
                out.append({
                    **part,
                    "rows": sum(num_rows(f) for f, _ in files),
                    "bytes": sum(size for _, size in files),
                })

        if root is not None:
            walk(root, {})
        return out


def _local_fs(ref: str):
    """(ls, num_rows, root) over the local OS; ls yields
    (name, is_dir, child handle, size)."""
    import pyarrow.parquet as pq

    def ls(path):
        for e in os.scandir(path):
            is_dir = e.is_dir()
            yield e.name, is_dir, e.path, 0 if is_dir else e.stat().st_size

    return ls, lambda f: pq.read_metadata(f).num_rows, (
        ref if os.path.isdir(ref) else None
    )


def _hadoop_fs(spark: SparkSession, ref: str):
    """(ls, num_rows, root) over the Hadoop FileSystem of ``ref``'s scheme;
    a file's handle is its FileStatus, so the footer open needs no second
    status lookup."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(ref)
    fs = root.getFileSystem(conf)
    open_footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.open
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus

    def ls(path):
        for st in fs.listStatus(path):
            is_dir = st.isDirectory()
            p = st.getPath()
            yield p.getName(), is_dir, p if is_dir else st, st.getLen()

    def num_rows(st) -> int:
        reader = open_footer(input_file(st, conf))
        try:
            return int(reader.getRecordCount())
        finally:
            reader.close()

    return ls, num_rows, root if fs.exists(root) else None


class IcebergBackend(StorageBackend):
    """Iceberg tables in a Hadoop catalog rooted at the pipeline base dir.

    Requires ``iceberg-spark-runtime`` on the classpath (gate with
    :func:`iceberg_available`). The catalog is registered lazily per
    session under ``catalog_name`` with ``type=hadoop`` and
    ``warehouse=<base_dir>``, so a DFS base dir works unchanged.
    """

    def __init__(self, catalog_name: str = "graft_tiers"):
        self.catalog_name = catalog_name
        self._warehouse: str | None = None

    def _ensure_catalog(self, spark: SparkSession, warehouse: str) -> None:
        prefix = f"spark.sql.catalog.{self.catalog_name}"
        spark.conf.set(prefix, "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set(f"{prefix}.type", "hadoop")
        spark.conf.set(f"{prefix}.warehouse", warehouse)
        self._warehouse = warehouse

    def ref(self, base_dir: str, name: str) -> str:
        # one namespace per pipeline base dir; the catalog warehouse IS the
        # base dir so refs stay stable across sessions
        spark = SparkSession.getActiveSession()
        if spark is not None:
            self._ensure_catalog(spark, base_dir)
        return f"{self.catalog_name}.tiers.{name}"

    def exists(self, spark: SparkSession, ref: str) -> bool:
        return spark.catalog.tableExists(ref)

    def overwrite_partitions(
        self, df: DataFrame, ref: str, partition_cols: list[str]
    ) -> None:
        spark = df.sparkSession
        if not spark.catalog.tableExists(ref):
            (
                df.writeTo(ref)
                .using("iceberg")
                .partitionedBy(*partition_cols)
                .create()
            )
        else:
            df.writeTo(ref).overwritePartitions()

    def read(
        self, spark: SparkSession, ref: str, schema: StructType | None = None
    ) -> DataFrame:
        return spark.table(ref)

    def append(self, df: DataFrame, ref: str) -> None:
        if not df.sparkSession.catalog.tableExists(ref):
            df.writeTo(ref).using("iceberg").create()
        else:
            df.writeTo(ref).append()

    def partition_stats(
        self,
        spark: SparkSession,
        ref: str,
        keep: Callable[[dict], bool] | None = None,
    ) -> list[dict]:
        """From the table's ``.partitions`` metadata table (current
        snapshot): record count and data-file bytes per partition."""
        out = []
        for r in spark.table(f"{ref}.partitions").collect():
            part = {k: int(v) for k, v in r["partition"].asDict().items()}
            if keep is None or keep(part):
                out.append({
                    **part,
                    "rows": int(r["record_count"]),
                    "bytes": int(r["total_data_file_size_in_bytes"]),
                })
        return out
