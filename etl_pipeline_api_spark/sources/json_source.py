"""JSON page-file source (SURVEY.md §2.1 op-json-scan / op-json-file-sink).

The reference's raw layer (proj-eng-dados/main.py:109-124) is a directory of
per-page JSON files in TWO envelope shapes:
  (a) a bare JSON array of records (pages 1-55 in the checkout), and
  (b) the API envelope ``{count, next, previous, results: [...]}`` (pages >=56),
with per-file decode-error tolerance (main.py:121-124).

Spark-first design: ONE distributed ``spark.read.json`` over the whole glob
(multiLine, since each file is one pretty-printed document), PERMISSIVE mode
with ``_corrupt_record`` capturing undecodable files instead of failing the
scan. Records from shape (a) arrive as top-level rows; shape (b) rows arrive
with a ``results`` array. One projection over the non-corrupt rows turns
both into the consolidated record stream: ``explode(coalesce(results,
array(struct(<record cols>))))``, so the files are scanned once per job
(op-union-all is implicit in the multi-file read).

At 100 TB: file listing and JSON parsing are fully parallel across executors;
no driver-side ``json.load`` loop. Schema is declared (deterministic), not
inferred — inference over 10^6 files would scan everything twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def record_schema(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


def envelope_schema(record: T.StructType) -> T.StructType:
    """Schema covering BOTH raw shapes: bare-array files parse as an array in
    column ``_bare``? No — Spark maps a top-level JSON array to one row per
    element, so bare-array files yield record-shaped rows directly, while
    envelope files yield rows with only ``results`` populated. One struct
    covers both: all record fields + the envelope fields, nullable."""
    fields = list(record.fields)
    fields += [
        T.StructField("count", T.LongType(), True),
        T.StructField("next", T.StringType(), True),
        T.StructField("previous", T.StringType(), True),
        T.StructField("results", T.ArrayType(record), True),
        T.StructField(CORRUPT_COL, T.StringType(), True),
    ]
    return T.StructType(fields)


def scan_json_pages(
    spark: SparkSession, path: str, record: T.StructType
) -> DataFrame:
    """op-json-scan: distributed dual-envelope scan → flat record DataFrame.

    Corrupt files are isolated (PERMISSIVE + _corrupt_record), mirroring the
    reference's per-file try/except (main.py:121-124) without serializing the
    read through the driver.
    """
    raw = (
        spark.read.schema(envelope_schema(record))
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    rec_cols = [f.name for f in record.fields]
    # envelope rows carry their records in ``results`` (an empty array yields
    # none); a bare row is its own one-element array
    records = F.coalesce(F.col("results"), F.array(F.struct(*rec_cols)))
    return (
        raw.filter(F.col(CORRUPT_COL).isNull())
        .select(F.explode(records).alias("r"))
        .select([F.col(f"r.{c}").alias(c) for c in rec_cols])
    )


def corrupt_records(spark: SparkSession, path: str, record: T.StructType) -> DataFrame:
    """The isolated bad inputs (observability twin of the permissive scan)."""
    # A raw-file query touching only _corrupt_record is disallowed
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so parse explicitly: one row per
    # file via wholetext, then from_json — a file is corrupt iff its parsed
    # struct is null for BOTH shapes. Also yields the file path for quarantine.
    files = spark.read.option("wholetext", "true").text(path).select(
        F.input_file_name().alias("source_file"), F.col("value")
    )
    env = T.StructType([f for f in envelope_schema(record).fields if f.name != CORRUPT_COL])
    parsed = files.select(
        "source_file",
        F.col("value").alias(CORRUPT_COL),
        F.from_json("value", env).alias("as_env"),
        F.from_json("value", T.ArrayType(record)).alias("as_array"),
    )
    # from_json may yield an all-null struct (serializes to '{}') instead of
    # NULL for malformed object-like text — treat both as corrupt.
    return parsed.filter(
        F.col("as_array").isNull()
        & (F.col("as_env").isNull() | (F.to_json("as_env") == F.lit("{}")))
    ).select("source_file", CORRUPT_COL)


def write_json_pages(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """op-json-file-sink: distributed JSON write (content parity with the
    reference's raw dump, main.py:82-86; byte-layout parity is a non-goal)."""
    df.write.mode(mode).json(path)
