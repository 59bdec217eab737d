"""etl_pipeline_api_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``angelitadias/ETL-Pipeline-API``
(reference read-only at /root/reference), re-designed Spark-first.

Layout:
- ``session``    SparkSession bootstrap (AQE, UTC, arrow)
- ``operators``  §2 operator inventory as composable DataFrame functions
- ``sources``    JSON (dual envelope), parquet (hive), paginated HTTP extract
- ``plans``      medallion Pipeline (read → transform → DQ gate → write)
- ``streaming``  Structured Streaming variants (windowed aggs, watermarks)
- ``queries``    named operator queries + DuckDB oracle SQL (driver contract)

Each operator has one import path: its home module under ``operators``,
``sources`` or ``plans``. The package root exports only ``get_spark``.
"""

from .session import get_spark

__all__ = ["get_spark"]
