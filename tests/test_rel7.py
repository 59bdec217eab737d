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
