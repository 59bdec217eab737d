"""The reference pipeline end-to-end, Spark-first: raw JSON → bronze →
silver → gold over the gastos data model (SURVEY.md §1, §3).

Stage semantics (citations into /root/reference/proj-eng-dados/main.py):
- bronze (main.py:104-164): dual-envelope JSON scan → declared schema →
  partition-key int casts → partitioned parquet.
- silver (main.py:189-267): valor coerce+fillna(0) → upper/trim 6 name cols →
  nullable-int casts → DQ GATE (aborts before write) → date parse →
  partitioned parquet.
- gold (main.py:270-323): hive scan → required-cols guard → groupby-sum →
  rename → partitioned parquet.

Differences by design (SURVEY §7 "semantic deltas"): null-preserving
upper/trim; fail-fast stages; dynamic partition overwrite so an incremental
month load rewrites only that month.

Partition scoping: the bronze and silver writes each record the (ano, mes)
partitions they produced (an ``Observation`` on the write's own pass), and
the next stage reads only those partitions of the layer below, plus any
the layer above has not caught up with: missing from it, or not older than
its copy (a listing of partition directories, no job). A month load thus
reads, cleans, gates, aggregates and rewrites just the months its pages
hold, and a run that stopped between two writes (a DQ rejection, a killed
job) is finished by the next run instead of leaving gold short. The set
comes from the data, not from a month argument, so a page that also
carries records for an older month restates that month too: bronze's
dynamic overwrite replaces the month with the page's records, and silver
and gold follow. Keys match null-safely, so a null-key bronze partition
still reaches the silver DQ gate, on every run until bronze is repaired. A
stage whose layer below was not written by this pipeline run reads that
whole layer.

Silver and gold read bronze and silver with the schemas the stage
transforms produce (:func:`layer_schemas`), so building a read launches no
schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import aggregations as agg
from ..operators import cleaning
from ..operators.dq import gastos_dq_suite
from ..sources import json_source, parquet_source
from .pipeline import Pipeline, Stage

PARTITION_COLS = ["ano", "mes"]

NAME_COLS = [
    "nome_orgao", "nome_favorecido", "nome_acao",
    "nome_programa", "nome_funcao", "nome_grupo_despesa",
]

# Declared 28-field record schema (SURVEY §1.3) — deterministic, no inference.
GASTOS_RECORD = T.StructType(
    [T.StructField(n, T.LongType(), True) for n in (
        "codigo_elemento_despesa", "codigo_funcao", "codigo_grupo_despesa",
        "codigo_orgao", "codigo_orgao_superior", "codigo_programa",
        "codigo_subfuncao", "codigo_unidade_gestora",
    )]
    + [T.StructField(n, T.StringType(), True) for n in (
        "codigo_acao", "codigo_favorecido", "data_pagamento",
        "data_pagamento_original", "gestao_pagamento", "linguagem_cidada",
        "nome_acao", "nome_elemento_despesa", "nome_favorecido", "nome_funcao",
        "nome_grupo_despesa", "nome_orgao", "nome_orgao_superior",
        "nome_programa", "nome_subfuncao", "nome_unidade_gestora",
        "numero_documento", "valor",
    )]
    + [T.StructField("ano", T.LongType(), True), T.StructField("mes", T.LongType(), True)]
)


def bronze_transform(df: DataFrame) -> DataFrame:
    cleaning.require_columns(df, ["ano", "mes"])  # main.py:135-139
    return cleaning.cast_int(df, ["ano", "mes"])  # main.py:143-144


def silver_transform(df: DataFrame) -> DataFrame:
    df = cleaning.numeric_coerce_fillna(df, "valor")        # main.py:212-213
    df = cleaning.upper_trim(df, NAME_COLS)                 # main.py:216-226
    df = cleaning.cast_nullable_int(df, ["ano", "mes"])     # main.py:229-231
    return df


def silver_post_dq(df: DataFrame) -> DataFrame:
    # date parse happens AFTER the DQ gate in the reference (main.py:252-253)
    return cleaning.parse_date(df, ["data_pagamento"])


def gold_transform(df: DataFrame) -> DataFrame:
    cleaning.require_columns(df, ["ano", "mes", "nome_orgao", "valor"])  # main.py:295-298
    return agg.groupby_sum(df, ["ano", "mes", "nome_orgao"], "valor")    # main.py:303-307


def layer_schemas(spark: SparkSession) -> dict[str, T.StructType]:
    """The schemas of the bronze and silver layers: the stage transforms
    planned over an empty ``GASTOS_RECORD`` frame (analysis only, no job)."""
    bronze = bronze_transform(spark.createDataFrame([], GASTOS_RECORD))
    silver = silver_post_dq(silver_transform(bronze))
    return {"bronze": bronze.schema, "silver": silver.schema}


def build_pipeline(raw_dir: str, bronze_dir: str, silver_dir: str, gold_dir: str) -> Pipeline:
    dq = gastos_dq_suite()
    layers = {"bronze": bronze_dir, "silver": silver_dir, "gold": gold_dir}
    schemas: dict[str, T.StructType] = {}  # derived at the first layer read
    written: dict[str, set[tuple]] = {}  # layer -> partitions this run wrote

    def behind(lower: str, upper: str, spark: SparkSession) -> set[tuple]:
        """Partitions of ``lower`` that ``upper`` has not caught up with:
        missing from it, or not older than its copy (a run that stopped
        between the two writes). A null-key partition never reaches silver,
        so it stays here and meets the DQ gate on every run."""
        low, up = (parquet_source.partition_mtimes(spark, layers[x], PARTITION_COLS)
                   for x in (lower, upper))
        return {tuple(None if v is None else int(v) for v in key)
                for key, mtime in low.items() if key not in up or mtime >= up[key]}

    def read(layer: str, into: str):
        def scan(spark: SparkSession) -> DataFrame:
            if not schemas:
                schemas.update(layer_schemas(spark))
            df = parquet_source.scan_parquet(spark, layers[layer], schemas[layer])
            if layer in written:
                scope = written[layer] | behind(layer, into, spark)
                df = parquet_source.only_partitions(df, PARTITION_COLS, scope)
            return df
        return scan

    def write(layer: str, prepare=lambda df: df):
        def sink(df: DataFrame) -> None:
            obs = Observation()  # the partitions written, on the write's own pass
            parts = F.collect_set(F.struct(*PARTITION_COLS)).alias("parts")
            parquet_source.write_partitioned(
                prepare(df).observe(obs, parts), layers[layer], PARTITION_COLS)
            written[layer] = {tuple(p) for p in obs.get["parts"]}
        return sink

    return Pipeline(
        stages=[
            Stage(
                "bronze",
                read=lambda s: json_source.scan_json_pages(s, raw_dir, GASTOS_RECORD),
                transform=bronze_transform,
                write=write("bronze"),
            ),
            Stage(
                "silver",
                read=read("bronze", into="silver"),
                transform=silver_transform,
                dq=dq,  # gate sits between transform and write (main.py:234-239)
                write=write("silver", silver_post_dq),
            ),
            Stage(
                "gold",
                read=read("silver", into="gold"),
                transform=gold_transform,
                write=write("gold"),
            ),
        ]
    )
