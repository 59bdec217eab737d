from __future__ import annotations

import json
from pathlib import Path

from etl_pipeline_api_spark.plans.gastos import GASTOS_RECORD
from etl_pipeline_api_spark.sources import json_source
from etl_pipeline_api_spark.sources.http_source import PaginatedHttpSource


def _record(i: int, **over):
    base = dict(
        ano=2017, mes=(i % 12) + 1, valor=f"{100 + i}.50",
        nome_orgao=f"  orgao {i % 3} ", nome_favorecido=f"fav {i}",
        nome_acao="a", nome_programa="p", nome_funcao="f", nome_grupo_despesa="g",
        data_pagamento="2017-06-01", codigo_orgao=i,
    )
    base.update(over)
    return base


def write_raw_pages(raw: Path, n_records: int = 20) -> None:
    """Both envelope shapes (SURVEY §1.3) + one corrupt file."""
    raw.mkdir(parents=True, exist_ok=True)
    recs = [_record(i) for i in range(n_records)]
    (raw / "page_1.json").write_text(json.dumps(recs[: n_records // 2]))  # bare array
    (raw / "page_2.json").write_text(
        json.dumps({"count": n_records, "next": None, "previous": None,
                    "results": recs[n_records // 2:]})
    )
    (raw / "page_3.json").write_text("{not valid json!!")


def test_json_scan_dual_envelope_and_corrupt_isolation(spark, tmp_path):
    raw = tmp_path / "raw"
    write_raw_pages(raw, 20)
    envelope = {"count": 0, "next": None, "previous": None}
    (raw / "page_4.json").write_text(json.dumps({**envelope, "results": []}))
    (raw / "page_5.json").write_text(json.dumps({**envelope, "results": None}))
    df = json_source.scan_json_pages(spark, str(raw), GASTOS_RECORD)
    rows = df.collect()
    # both shapes consolidated, corrupt file excluded; an empty ``results``
    # yields no record, a null one reads as a bare record with no fields
    # (one all-null row, which the silver DQ gate rejects)
    assert len(rows) == 21
    assert sorted(r.nome_favorecido for r in rows if r.ano is not None) == sorted(
        f"fav {i}" for i in range(20))
    assert [r for r in rows if r.ano is None] == [
        tuple(None for _ in GASTOS_RECORD.fields)]
    bad = json_source.corrupt_records(spark, str(raw), GASTOS_RECORD).collect()
    assert len(bad) == 1
    # one scan of the files serves both shapes: no per-shape branch and union
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") == 1 and "Union" not in plan, plan


def test_http_source_pagination_retry_resume(tmp_path):
    pages = {
        "http://api/p1": {"results": [{"x": 1}], "next": "http://api/p2"},
        "http://api/p2": {"results": [{"x": 2}], "next": "http://api/p3"},
        "http://api/p3": {"results": [], "next": None},
    }
    calls, sleeps = [], []
    rate_limited = {"http://api/p2": True}  # first hit on p2 → 429

    def transport(url, headers):
        calls.append(url)
        assert headers == {"Authorization": "Token sekrit"}
        if rate_limited.pop(url, None):
            return 429, ""
        return 200, json.dumps(pages[url])

    src = PaginatedHttpSource(
        base_url="http://api/p1", out_dir=str(tmp_path / "raw"), token="sekrit",
        transport=transport, sleep=sleeps.append,
    )
    written = src.fetch()
    assert [p.name for p in written] == ["page_1.json", "page_2.json"]
    assert calls.count("http://api/p2") == 2          # op-rate-limit-retry
    assert 15.0 in sleeps and 1.0 in sleeps           # backoff + politeness

    # op-incremental-skip: second run re-walks cursors but rewrites nothing
    written2 = src.fetch()
    assert written2 == []
    assert src.downloaded_pages() == {1, 2}


def test_page_datasource_partitions_and_corrupt_isolation(spark, tmp_path):
    """Custom page_json DataSource: one input partition per page file,
    corrupt pages isolate as _corrupt_path rows, both envelope shapes
    parse."""
    import json

    from pyspark.sql import types as T

    from etl_pipeline_api_spark.session import ship_package
    from etl_pipeline_api_spark.sources.page_datasource import (
        CORRUPT_PATH_COL,
        PageFileDataSource,
        with_corrupt_col,
    )

    ship_package(spark)
    spark.dataSource.register(PageFileDataSource)
    d = tmp_path / "pages"
    d.mkdir()
    (d / "page_1.json").write_text(json.dumps([{"a": 1}, {"a": 2}]))
    (d / "page_2.json").write_text(
        json.dumps({"count": 1, "next": None, "previous": None,
                    "results": [{"a": 3}]})
    )
    (d / "page_3.json").write_text("{nope")
    schema = with_corrupt_col(T.StructType([T.StructField("a", T.LongType())]))
    df = (
        spark.read.format("page_json")
        .schema(schema)
        .option("path", str(d))
        .load()
    )
    rows = df.collect()
    good = sorted(r.a for r in rows if r[CORRUPT_PATH_COL] is None)
    bad = [r for r in rows if r[CORRUPT_PATH_COL] is not None]
    assert good == [1, 2, 3]
    assert len(bad) == 1 and bad[0][CORRUPT_PATH_COL].endswith("page_3.json")
    assert df.rdd.getNumPartitions() == 3  # one partition per page


def test_page_datasource_streaming_incremental(spark, tmp_path):
    """page_json streamReader: new page files become micro-batches; a
    restart from the checkpoint resumes AFTER the last processed filename
    (the monotonic-name offset contract), so nothing is re-read and
    nothing is missed."""
    import json

    from pyspark.sql import types as T

    from etl_pipeline_api_spark.session import ship_package
    from etl_pipeline_api_spark.sources.page_datasource import (
        PageFileDataSource,
        with_corrupt_col,
    )

    ship_package(spark)
    spark.dataSource.register(PageFileDataSource)
    d = tmp_path / "pages"
    d.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = with_corrupt_col(T.StructType([T.StructField("a", T.LongType())]))

    def drain():
        stream = (
            spark.readStream.format("page_json")
            .schema(schema)
            .option("path", str(d))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.a for r in spark.read.parquet(sink).collect())

    (d / "page_01.json").write_text(json.dumps([{"a": 1}, {"a": 2}]))
    (d / "page_02.json").write_text(
        json.dumps({"count": 1, "next": None, "previous": None,
                    "results": [{"a": 3}]})
    )
    assert drain() == [1, 2, 3]
    (d / "page_03.json").write_text(json.dumps([{"a": 4}]))
    # duplicates would appear here if the restart re-read pages 1-2
    assert drain() == [1, 2, 3, 4]


def test_page_order_key_natural_and_ambiguity_guard(tmp_path):
    """Offset order is numeric, not lexicographic: page_10 > page_9 even
    unpadded; two names that tie under the numeric key raise instead of
    silently dropping one."""
    from pyspark.sql import types as T

    from etl_pipeline_api_spark.sources.page_datasource import (
        PageStreamReader,
        page_order_key,
    )

    names = [f"page_{i}.json" for i in (1, 2, 9, 10, 11, 100)]
    assert sorted(names, key=page_order_key) == names  # lexicographic would not be
    assert page_order_key("") < page_order_key("page_1.json")

    d = tmp_path / "pages"
    d.mkdir()
    (d / "page_1.json").write_text("[]")
    (d / "page_01.json").write_text("[]")
    reader = PageStreamReader(
        T.StructType([T.StructField("a", T.LongType())]), {"path": str(d)}
    )
    import pytest

    with pytest.raises(ValueError, match="ambiguous"):
        reader._files()


def test_page_stream_ingests_past_page_nine(spark, tmp_path):
    """Regression for the lexicographic-offset bug: once the offset reached
    page_9.json, a newly arriving page_10.json sorted below it and was never
    ingested. Natural order must pick it up."""
    import json

    from pyspark.sql import types as T

    from etl_pipeline_api_spark.session import ship_package
    from etl_pipeline_api_spark.sources.page_datasource import (
        PageFileDataSource,
        with_corrupt_col,
    )

    ship_package(spark)
    spark.dataSource.register(PageFileDataSource)
    d = tmp_path / "pages"
    d.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = with_corrupt_col(T.StructType([T.StructField("a", T.LongType())]))

    def drain():
        stream = (
            spark.readStream.format("page_json")
            .schema(schema)
            .option("path", str(d))
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.a for r in spark.read.parquet(sink).collect())

    for i in range(1, 10):  # unpadded page_1 … page_9
        (d / f"page_{i}.json").write_text(json.dumps([{"a": i}]))
    assert drain() == list(range(1, 10))
    (d / "page_10.json").write_text(json.dumps([{"a": 10}]))
    assert drain() == list(range(1, 11))
