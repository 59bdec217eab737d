"""Batch 7 semantics: hidden _metadata lineage over a sharded write."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_metadata_lineage_multi_file(spark, tmp_path):
    """Rows written across N files must attribute back to exactly those N
    files through _metadata.file_name, with per-file counts summing to
    the table total."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    out = str(tmp_path / "sharded")
    docs.repartition(4).write.parquet(out)
    back = spark.read.parquet(out)
    per_file = (
        back.groupBy(F.col("_metadata.file_name").alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(per_file) == 4
    assert sum(r.n for r in per_file) == docs.count()
    assert all(r.f.endswith(".parquet") for r in per_file)


def test_cli_list_inventory():
    """`python -m etl_pipeline_api_spark list` enumerates every registered
    query with its check tag — no Spark session needed."""
    import io
    from contextlib import redirect_stdout

    from etl_pipeline_api_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["list"]) == 0
    lines = [l for l in buf.getvalue().splitlines() if l]
    assert len(lines) >= 140
    assert any(l.startswith("op-groupby-sum\toracle") for l in lines)
    # r9: op-bpe-encode gained a structural oracle — EVERY registered
    # query is now oracle-gated; a reappearing rows-only entry is a
    # coverage regression, not an expected category
    assert not any(l.endswith("rows-only") for l in lines)


def test_cli_pipeline_counts_written_layers(spark, tmp_path, monkeypatch):
    """`python -m etl_pipeline_api_spark pipeline` reports each layer's row
    count from the parquet it wrote. The raw pages are deleted as soon as
    the run returns, so a count that re-ran a stage's plan from its input
    (bronze re-parsing the JSON) would fail."""
    import io
    import shutil
    from contextlib import redirect_stdout

    from etl_pipeline_api_spark import session
    from etl_pipeline_api_spark.__main__ import main
    from etl_pipeline_api_spark.plans.pipeline import Pipeline
    from tests.test_sources import write_raw_pages

    raw, out = tmp_path / "raw", tmp_path / "lake"
    write_raw_pages(raw, 24)
    run = Pipeline.run

    def run_then_drop_raw(self, spark_):
        results = run(self, spark_)
        shutil.rmtree(raw)
        return results

    monkeypatch.setattr(Pipeline, "run", run_then_drop_raw)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["pipeline", "--raw", str(raw), "--out", str(out)]) == 0
    printed = [l for l in buf.getvalue().splitlines() if l.endswith(" rows")]
    layers = ("bronze", "silver", "gold")
    assert printed == [
        f"{k}: {spark.read.parquet(str(out / k)).count()} rows" for k in layers
    ]
    assert printed[0] == "bronze: 24 rows"


def test_cli_run_launches_no_extra_jobs(spark, monkeypatch):
    """`python -m etl_pipeline_api_spark run` launches no more jobs than
    one ``limit(n).collect()`` plus one ``count()`` of the same query: the
    preview prints the rows already collected instead of running it again."""
    import io
    from contextlib import redirect_stdout

    from etl_pipeline_api_spark import session
    from etl_pipeline_api_spark.__main__ import _load_registry, main

    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def collect_and_count():
        df = _load_registry()[0]["op-groupby-sum"](spark, SF)
        df.limit(5).collect()
        df.count()

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    buf = io.StringIO()
    with redirect_stdout(buf):
        cli = jobs_in(
            "cli-run",
            lambda: main(["run", "op-groupby-sum", "--sf", SF, "-n", "5"]),
        )
    want = jobs_in("collect-count", collect_and_count)
    assert 0 < cli <= want
    lines = buf.getvalue().splitlines()
    assert len(lines) == 1 + 5 + 1  # header, the preview, the total
    assert lines[-1].split(" rows total (")[1].startswith("5 shown)")
