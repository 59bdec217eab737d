"""Parquet scan / hive-partitioned sink (SURVEY.md §2.1).

op-parquet-scan       ~ proj-eng-dados/main.py:198  (read all partitions)
op-parquet-scan-hive  ~ main.py:283-286             (hive partition discovery)
op-parquet-partitioned-sink ~ main.py:152-157, 259-264, 314-319

Spark gives partition discovery, predicate/partition pruning, and the
vectorized reader natively; the sink pins snappy + dynamic partition
overwrite (so re-running a month only rewrites that month — the reference's
whole-layer overwrite would be a full rewrite at 100 TB).
"""

from __future__ import annotations

from collections.abc import Iterable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"  # directory value of a null key


def scan_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Flat or hive-partitioned parquet scan; partition columns (e.g.
    ano/mes directory keys) are recovered automatically.

    ``schema`` skips inference — REQUIRED for empty-safe reads: a
    partitioned sink that received zero rows (fresh day, empty backfill
    window) writes no data files, so schema inference has nothing to
    read and raises UNABLE_TO_INFER_SCHEMA (found by the r10 all-empty
    fuzz sweep). At 100 TB reads come off a declared schema or a
    metastore anyway; inference is a convenience for exploratory reads
    of known-non-empty data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def scan_parquet_lenient(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Corruption-isolating parquet scan: ``ignoreCorruptFiles`` skips files
    whose footer/pages fail to parse instead of failing the job — the
    parquet twin of the JSON layer's corrupt-record isolation.

    At 100 TB a handful of truncated files (killed writer, partial upload)
    are a WHEN, not an IF; one bad object must not fail a million-file scan.
    Lenient reads belong in the BRONZE layer only — losses are silent at
    read time, so pair with a file-count/row-count DQ reconciliation
    (op-dq-suite) before promoting to silver. ``schema`` skips inference
    (required when the FIRST listed file might be the corrupt one)."""
    reader = spark.read.option("ignoreCorruptFiles", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] = ("ano", "mes"),
    mode: str = "overwrite",
) -> None:
    """Snappy parquet partitioned by the reference's ano/mes layout.

    ``partitionOverwriteMode=dynamic`` scopes the overwrite to partitions
    present in ``df`` — incremental month loads don't clobber history.
    """
    (
        df.write.mode(mode)
        .option("compression", "snappy")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def partition_mtimes(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> dict[tuple, int]:
    """Every partition directory of a hive-partitioned layer, keyed by its
    raw directory values (``None`` for the null key), with the directory's
    modification time in ms (set when the write that produced it committed).

    A listing through the layer's Hadoop FileSystem, no Spark
    job. A missing layer has no partitions; entries that are not
    ``<col>=<value>`` directories (``_SUCCESS``, leftover staging
    directories) are skipped."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    level = [((), root, 0)]
    for col in partition_cols:
        prefix, nxt = f"{col}=", []
        for key, parent, _ in level:
            for st in fs.listStatus(parent):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith(prefix):
                    v = unquote(name[len(prefix):])
                    v = None if v == HIVE_NULL else v
                    nxt.append((key + (v,), st.getPath(), st.getModificationTime()))
        level = nxt
    return {key: mtime for key, _, mtime in level}


def only_partitions(
    df: DataFrame, partition_cols: list[str], partitions: Iterable[tuple]
) -> DataFrame:
    """Restrict a partitioned scan to the given partition-key tuples.

    Keys match null-safely (``<=>``), so a null-key partition
    (``__HIVE_DEFAULT_PARTITION__``) is read like any other. The predicate
    touches partition columns only, so the scan prunes to those
    directories instead of filtering rows."""
    match = F.lit(False)
    for key in partitions:
        same = F.lit(True)
        for c, v in zip(partition_cols, key):
            same = same & F.col(c).eqNullSafe(F.lit(v))
        match = match | same
    return df.where(match)
