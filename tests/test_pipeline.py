from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import replace

import pytest

from etl_pipeline_api_spark.operators.dq import DataQualityError
from etl_pipeline_api_spark.plans.gastos import build_pipeline
from etl_pipeline_api_spark.plans.pipeline import StageError
from tests.test_sources import _record, write_raw_pages


def _dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("raw", "bronze", "silver", "gold")}


def test_end_to_end_raw_to_gold(spark, tmp_path):
    d = _dirs(tmp_path)
    write_raw_pages(tmp_path / "raw", 24)
    pipe = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])
    pipe.run(spark)

    gold = spark.read.parquet(d["gold"])
    assert set(gold.columns) == {"ano", "mes", "nome_orgao", "total_gasto"}
    rows = gold.collect()
    # names standardized before aggregation → uppercase, trimmed keys
    assert all(r.nome_orgao.startswith("ORGAO ") for r in rows)
    # sum of all groups == sum of all valor strings coerced to double
    assert sum(r.total_gasto for r in rows) == pytest.approx(
        sum(100 + i + 0.5 for i in range(24))
    )
    # hive layout: ano/mes partition directories exist
    assert (tmp_path / "gold" / "ano=2017").exists()

    # silver: date parsed to a real date type
    silver = spark.read.parquet(d["silver"])
    assert dict(silver.dtypes)["data_pagamento"] == "date"


def test_dq_gate_aborts_silver_before_write(spark, tmp_path):
    d = _dirs(tmp_path)
    raw = tmp_path / "raw"
    raw.mkdir()
    recs = [_record(i) for i in range(8)] + [_record(99, mes=13)]  # range violation
    (raw / "page_1.json").write_text(json.dumps(recs))
    pipe = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])
    with pytest.raises(StageError) as e:
        pipe.run(spark)
    assert e.value.stage == "silver"
    assert isinstance(e.value.cause, DataQualityError)
    assert "range_mes" in e.value.cause.violations
    assert not (tmp_path / "silver").exists()  # gate fired before any write


def test_empty_input_guard(spark, tmp_path):
    d = _dirs(tmp_path)
    (tmp_path / "raw").mkdir()
    (tmp_path / "raw" / "page_1.json").write_text(json.dumps([]))
    pipe = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])
    with pytest.raises(StageError) as e:
        pipe.run(spark)
    assert e.value.stage == "bronze"


def _write_page(raw, recs):
    raw.mkdir()
    (raw / "page_1.json").write_text(json.dumps(recs))


def _gold_of(recs):
    """gold totals per (ano, mes, ORGAO) the pipeline should produce."""
    out = defaultdict(float)
    for r in recs:
        out[(r["ano"], r["mes"], r["nome_orgao"].strip().upper())] += float(r["valor"])
    return dict(out)


def _data_files(layer):
    """Every data file of a layer, by path under it, with its mtime."""
    return {str(p.relative_to(layer)): p.stat().st_mtime_ns for p in layer.rglob("*.parquet")}


def _month_files(files, ano, mes):
    return {p: t for p, t in files.items() if p.startswith(f"ano={ano}/mes={mes}/")}


def test_month_load_rewrites_only_its_partitions(spark, tmp_path):
    """A load page holding a new month plus a late record for a loaded
    month lands both months in gold; no other month's silver or gold
    data file is rewritten."""
    d = _dirs(tmp_path)
    batch = [_record(i, mes=m) for m in (1, 2, 3) for i in range(4)]
    _write_page(tmp_path / "raw", batch)
    build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"]).run(spark)
    before = {k: _data_files(tmp_path / k) for k in ("silver", "gold")}

    load = [_record(i, ano=2018, mes=1) for i in range(3)] + [_record(50, mes=2)]
    _write_page(tmp_path / "load", load)
    build_pipeline(str(tmp_path / "load"), d["bronze"], d["silver"], d["gold"]).run(spark)

    # the page restates 2017-02 (bronze overwrites the month with the
    # page's records) and adds 2018-01; 2017-01 and 2017-03 keep their gold
    want = _gold_of([r for r in batch if r["mes"] != 2] + load)
    gold = {(r.ano, r.mes, r.nome_orgao): r.total_gasto
            for r in spark.read.parquet(d["gold"]).collect()}
    assert gold.keys() == want.keys()
    assert all(gold[k] == pytest.approx(v) for k, v in want.items())
    for layer, files in before.items():
        after = _data_files(tmp_path / layer)
        for mes in (1, 3):
            assert _month_files(after, 2017, mes) == _month_files(files, 2017, mes) != {}
        assert _month_files(after, 2017, 2).keys().isdisjoint(_month_files(files, 2017, 2))


def test_null_partition_key_reaches_dq_gate(spark, tmp_path):
    """A bronze record with a null ano lands in the null-key partition;
    silver still reads it and its DQ gate rejects it."""
    d = _dirs(tmp_path)
    _write_page(tmp_path / "raw", [_record(i) for i in range(4)] + [_record(9, ano=None)])
    with pytest.raises(StageError) as e:
        build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"]).run(spark)
    assert e.value.stage == "silver"
    assert isinstance(e.value.cause, DataQualityError)
    assert e.value.cause.violations.get("null_ano") == 1
    assert not (tmp_path / "silver").exists()


@pytest.mark.parametrize("stopped_at", ["silver", "gold"])
def test_month_load_finishes_an_unfinished_run(spark, tmp_path, stopped_at):
    """A batch run that stops after bronze (or silver) leaves months the
    layers above never got; the next month load brings them into gold."""
    d = _dirs(tmp_path)
    batch = [_record(i, mes=m) for m in (1, 2) for i in range(4)]
    _write_page(tmp_path / "raw", batch)
    pipe = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])

    def killed(df):
        raise RuntimeError("executor lost")

    pipe.stages = [replace(st, write=killed) if st.name == stopped_at else st
                   for st in pipe.stages]
    with pytest.raises(StageError):
        pipe.run(spark)

    load = [_record(i, ano=2018, mes=1) for i in range(3)]
    _write_page(tmp_path / "load", load)
    build_pipeline(str(tmp_path / "load"), d["bronze"], d["silver"], d["gold"]).run(spark)

    want = _gold_of(batch + load)
    gold = {(r.ano, r.mes, r.nome_orgao): r.total_gasto
            for r in spark.read.parquet(d["gold"]).collect()}
    assert gold.keys() == want.keys()
    assert all(gold[k] == pytest.approx(v) for k, v in want.items())


def test_month_load_after_rejected_run_still_fails_the_gate(spark, tmp_path):
    """A null-key bronze partition left by a run the DQ gate rejected is
    gated again by the next month load, not skipped."""
    d = _dirs(tmp_path)
    _write_page(tmp_path / "raw", [_record(i) for i in range(4)] + [_record(9, ano=None)])
    with pytest.raises(StageError):
        build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"]).run(spark)

    _write_page(tmp_path / "load", [_record(i, ano=2018, mes=1) for i in range(3)])
    with pytest.raises(StageError) as e:
        build_pipeline(str(tmp_path / "load"), d["bronze"], d["silver"], d["gold"]).run(spark)
    assert e.value.stage == "silver"
    assert e.value.cause.violations.get("null_ano") == 1


def test_layer_reads_launch_no_job(spark, tmp_path):
    """The silver and gold stages read their layer with a declared schema,
    so building either read, whole-layer or partition-scoped, runs no
    Spark job."""
    d = _dirs(tmp_path)
    write_raw_pages(tmp_path / "raw", 24)
    ran = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])
    ran.run(spark)  # its reads are now scoped to the partitions it wrote
    fresh = build_pipeline(d["raw"], d["bronze"], d["silver"], d["gold"])
    sc = spark.sparkContext
    group = f"layer-reads-{tmp_path.name}"
    sc.setJobGroup(group, "build the silver and gold stage reads")
    try:
        reads = [st.read(spark) for pipe in (ran, fresh) for st in pipe.stages[1:]]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [df.count() for df in reads] == [24, 24, 24, 24]
