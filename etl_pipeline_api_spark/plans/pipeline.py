"""Medallion pipeline orchestration (SURVEY.md §2.6).

The reference's lifecycle (proj-eng-dados/main.py:326-334) is four sequential
stage functions with soft failure handling (print + return, pipeline keeps
going — main.py:161-164 etc.). Here a stage is declarative:

    Stage(name, read, transform, dq, write)

run as read → transform → DQ gate → write, with materialized parquet layers
as the stage boundaries (the reference's checkpoint/restart semantics).
Failure handling is HARDENED per SURVEY §2.6: every stage fails fast, and
``Pipeline.run`` wraps the first failure in a ``StageError`` naming the stage.

Everything between read and write is one lazy Catalyst plan, so however
many operators compose inside the transform, a stage runs only the jobs of
its guards and its write. Building a read runs none (declared schemas).
Measured for the gastos pipeline (plans/gastos.py) under adaptive query
execution, which runs a shuffle's map side as a job of its own:

- bronze, 2 jobs: the empty-input guard (``is_empty``, one ``LIMIT 1``
  job) and the write;
- silver, 4 jobs: the guard, the DQ gate's one-row aggregate (map side
  plus result, 2 jobs) and the write;
- gold, 3 jobs: the guard and the group-by write (map side plus write).

Only bronze's guard and write scan the raw JSON; the partitions a write
produced come from an ``Observation`` on that write, and the partitions a
layer still lags behind the one below from a directory listing, neither
from a job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.cleaning import is_empty
from ..operators.dq import DQSuite


class StageError(RuntimeError):
    def __init__(self, stage: str, cause: Exception):
        self.stage, self.cause = stage, cause
        super().__init__(f"stage '{stage}' failed: {cause!r}")


class EmptyInputError(RuntimeError):
    """op-empty-guard (main.py:110-112, 203-205) as a typed failure."""


@dataclass
class Stage:
    name: str
    read: Callable[[SparkSession], DataFrame]
    transform: Callable[[DataFrame], DataFrame] = lambda df: df
    dq: DQSuite | None = None
    write: Callable[[DataFrame], None] | None = None

    def run(self, spark: SparkSession) -> DataFrame:
        df = self.read(spark)
        if is_empty(df):
            raise EmptyInputError(f"stage '{self.name}': empty input")
        out = self.transform(df)
        if self.dq is not None:
            out = self.dq.gate(out)  # raises DataQualityError before any write
        if self.write is not None:
            self.write(out)
        return out


@dataclass
class Pipeline:
    """op-pipeline-run: ordered stages, fail-fast (hardened vs main.py:326-334)."""

    stages: list[Stage] = field(default_factory=list)

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        results: dict[str, DataFrame] = {}
        for stage in self.stages:
            try:
                results[stage.name] = stage.run(spark)
            except Exception as e:  # noqa: BLE001
                raise StageError(stage.name, e) from e
        return results
