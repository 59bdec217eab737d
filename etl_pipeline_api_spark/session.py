"""SparkSession bootstrap for the engine.

The reference (``/root/reference/proj-eng-dados/main.py``) is a single-process
pandas program with no session concept; here the session IS the engine
substrate. Config choices are scale-oriented:

- AQE on (runtime coalescing, skew-join splitting) so the same plans survive
  a 1000-executor cluster without hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a real
  cluster AQE coalescing makes the initial number far less critical.
- UTC session timezone so timestamp semantics are engine-independent (and
  match the DuckDB oracle, which is UTC-naive).
- Arrow enabled for any Pandas-UDF path (extensions use vectorized UDFs only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl_pipeline_api_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode for tests/bench; every config below is also the right default
    on a multi-executor cluster (AQE handles the difference in parallelism).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert (see queries._t / sources.parquet_source)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # bucketed tables (operators.joins.bucketed_table) live outside the
        # repo tree; at real scale this is the lake/metastore warehouse path
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.driver.memory", "8g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df, min_partitions: int | None = None):
    """Ensure a compute-heavy stage has enough partitions to use the cluster.

    Small-on-disk inputs (snappy parquet text) arrive as a single scan
    partition under the default 128 MB maxPartitionBytes, serializing any
    CPU-bound per-row work (shingling, hashing, decoding) onto one core.
    Repartition up to the session's default parallelism when — and only
    when — the input has fewer partitions: at real scale inputs already
    exceed it and this is a no-op (no shuffle inserted).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Ops built from pyspark.sql.functions never need this (pure JVM), but
    mapInPandas/pandas-UDF closures pickle module-level references
    (e.g. the default decoder), and the session the DRIVER hands us may not
    have the repo on the workers' PYTHONPATH. Zip the package once per
    process and addPyFile it — idempotent, works for any session origin.
    """
    sent = getattr(ship_package, "_sent", set())
    key = id(spark.sparkContext)
    if key in sent:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"etl_pipeline_api_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        arc = os.path.join(
                            "etl_pipeline_api_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, arc)
    spark.sparkContext.addPyFile(zpath)
    sent.add(key)
    ship_package._sent = sent
