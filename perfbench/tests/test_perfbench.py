"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session each (about 30-60 s apiece).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_gastos  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _pages(tmp_path, name: str, seed: int) -> tuple[str, gen_gastos.RawPages]:
    out = str(tmp_path / name)
    return out, gen_gastos.write_pages(out, seed, gen_gastos.BATCH_MONTHS, 4, 50, n_corrupt=2)


def test_gastos_pages_are_deterministic_per_seed(tmp_path):
    a, exp_a = _pages(tmp_path, "a", 1)
    b, exp_b = _pages(tmp_path, "b", 1)
    c, _ = _pages(tmp_path, "c", 2)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert exp_a == exp_b


def test_gastos_pages_cover_the_input_properties(tmp_path):
    out, exp = _pages(tmp_path, "p", 3)
    docs, corrupt = [], 0
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name)) as f:
            try:
                docs.append(json.load(f))
            except json.JSONDecodeError:
                corrupt += 1
    assert corrupt == exp.n_corrupt == 2
    assert any(isinstance(d, list) for d in docs) and any(isinstance(d, dict) for d in docs)
    recs = [r for d in docs for r in (d if isinstance(d, list) else d["results"])]
    assert len(recs) == exp.n_records == 200
    assert sum(exp.silver_rows.values()) == exp.n_records
    # every record passes the DQ gate: non-null keys and names, month in range
    assert all(r["nome_orgao"] and r["nome_favorecido"] and 1 <= r["mes"] <= 12 for r in recs)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_end_to_end_metric_and_passes(workload):
    res = _result(_run(workload, trace=0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_prints_every_per_layer_metric():
    res = _result(_run("medallion", trace=1))
    assert res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["pipeline.stage_jobs.bronze"] > 0 and m["load.pipeline.stage_jobs.bronze"] > 0
    assert m["json_source.corrupt_files"] == 1
    # the month load rewrites the whole lake, the batch run writes it once
    assert m["pipeline.write_amp.load"] > m["pipeline.write_amp.batch"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
