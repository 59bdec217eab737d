"""The plan gate (tools/roundcheck.py --plans) must be self-enforcing:
a seeded bad plan snapshot exits non-zero; a clean one passes. No Spark
needed — the gate parses the committed markdown."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import roundcheck  # noqa: E402

GOOD = """# Plan audit @ /root/testdata/sf0.1

## op-clean
- shuffles=1 broadcasts=2 codegen_spans=4 joins: bhj=2
- scan struct<a:bigint> pushed=[IsNotNull(a)]

## op-flagged-ok
- shuffles=2 broadcasts=3 codegen_spans=5 joins: bhj=3  **FLAGS: BNLJ x2**
- triage: BNLJ = crossJoin(broadcast(1-row aggregate)) — scalar constant.
- scan struct<b:bigint> pushed=[]
"""

UNTRIAGED = GOOD + """
## op-bad
- shuffles=2 broadcasts=1 codegen_spans=3 joins: smj=1  **FLAGS: BNLJ x1**
- scan struct<c:bigint> pushed=[]
"""

CARTESIAN = GOOD + """
## op-cart
- shuffles=0 broadcasts=0 codegen_spans=1 joins: none  **FLAGS: CARTESIAN x1**
- triage: it is probably fine.
"""

CART_SIGNED = GOOD + """
## op-cart-signed
- shuffles=0 broadcasts=0 codegen_spans=1 joins: none  **FLAGS: CARTESIAN x1**
- triage: deliberate cartesian of two ≤4-row config frames.
"""

ERRORED = GOOD + """
## op-broken
ERROR: AnalysisException: column not found
"""

DUP_TRIAGE = GOOD + """
## op-dup
- shuffles=1 broadcasts=1 codegen_spans=2 joins: bhj=1  **FLAGS: BNLJ x1**
- triage: BNLJ = the same line twice.
- triage: BNLJ = the same line twice.
"""


def _gate(tmp_path, content: str) -> int:
    p = tmp_path / "PLANS_r99.md"
    p.write_text(content)
    return subprocess.run(
        [sys.executable, str(REPO / "tools" / "roundcheck.py"), "--plans", str(p)],
        capture_output=True,
    ).returncode


def test_clean_snapshot_passes(tmp_path):
    assert _gate(tmp_path, GOOD) == 0


def test_untriaged_flag_fails(tmp_path):
    assert _gate(tmp_path, UNTRIAGED) != 0


def test_cartesian_without_signoff_fails(tmp_path):
    assert _gate(tmp_path, CARTESIAN) != 0


def test_cartesian_with_signoff_passes(tmp_path):
    assert _gate(tmp_path, CART_SIGNED) == 0


def test_error_block_fails(tmp_path):
    assert _gate(tmp_path, ERRORED) != 0


def test_duplicate_triage_fails(tmp_path):
    assert _gate(tmp_path, DUP_TRIAGE) != 0


def test_check_plans_lists_each_problem(tmp_path):
    p = tmp_path / "PLANS_r99.md"
    p.write_text(UNTRIAGED + ERRORED.split(GOOD)[1] + DUP_TRIAGE.split(GOOD)[1])
    problems = roundcheck.check_plans(str(p))
    assert any("untriaged" in x for x in problems)
    assert any("ERROR" in x for x in problems)
    assert any("duplicated" in x for x in problems)


def test_latest_plans_file_picks_highest_round(tmp_path):
    (tmp_path / "PLANS_r2.md").write_text(GOOD)
    (tmp_path / "PLANS_r10.md").write_text(GOOD)
    assert roundcheck.latest_plans_file(str(tmp_path)).endswith("PLANS_r10.md")


def test_query_registry_rejects_duplicate_names():
    import pytest as _pytest
    from etl_pipeline_api_spark import queries as q

    with _pytest.raises(ValueError, match="duplicate query name"):
        q.query("op-groupby-sum")(lambda spark, sf_dir: None)
    # registry unchanged: the original callable is still registered
    assert callable(q.QUERIES["op-groupby-sum"])
