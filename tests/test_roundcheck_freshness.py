"""The evidence-freshness gate (tools/roundcheck.py) must be
self-enforcing: in a seeded git repo where the engine's last commit
postdates the committed FULLSWEEP artifact, the check reports
problems; committing a fresh one (or waiving the engine
commit hash in SWEEP_WAIVER) clears them. No Spark needed."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import roundcheck  # noqa: E402


def _git(cwd: Path, *args: str) -> None:
    subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True,
        env={
            "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
            "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
            "PATH": "/usr/bin:/bin:/usr/local/bin",
            "HOME": str(cwd),
        },
    )


def _commit(cwd: Path, msg: str, ts: int) -> None:
    env_ts = f"2024-01-01T00:00:{ts:02d} +0000"
    subprocess.run(
        ["git", "commit", "-q", "-m", msg], cwd=cwd, check=True,
        capture_output=True,
        env={
            "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
            "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t",
            "GIT_AUTHOR_DATE": env_ts, "GIT_COMMITTER_DATE": env_ts,
            "PATH": "/usr/bin:/bin:/usr/local/bin",
            "HOME": str(cwd),
        },
    )


@pytest.fixture()
def seeded_repo(tmp_path: Path) -> Path:
    d = tmp_path / "repo"
    d.mkdir()
    _git(d, "init", "-q")
    (d / "etl_pipeline_api_spark").mkdir()
    (d / "etl_pipeline_api_spark" / "queries.py").write_text("# v1\n")
    (d / "FULLSWEEP_r1.txt").write_text("229/229 passed\n")
    _git(d, "add", "-A")
    _commit(d, "engine v1 + artifacts", 1)
    return d


def test_fresh_artifacts_pass(seeded_repo: Path) -> None:
    assert roundcheck.check_evidence_freshness(str(seeded_repo)) == []


def test_stale_sweep_fails(seeded_repo: Path) -> None:
    # engine commit AFTER the artifacts -> the sweep is stale
    (seeded_repo / "etl_pipeline_api_spark" / "queries.py").write_text("# v2\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "engine v2", 2)
    problems = roundcheck.check_evidence_freshness(str(seeded_repo))
    assert any("FULLSWEEP" in p for p in problems)


def test_recommitted_artifacts_clear(seeded_repo: Path) -> None:
    (seeded_repo / "etl_pipeline_api_spark" / "queries.py").write_text("# v2\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "engine v2", 2)
    # a NEWER round's sweep, committed after
    (seeded_repo / "FULLSWEEP_r2.txt").write_text("229/229 passed\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "round 2 artifacts", 3)
    assert roundcheck.check_evidence_freshness(str(seeded_repo)) == []


def test_old_rounds_sweep_does_not_mask(seeded_repo: Path) -> None:
    # committing an OLDER round's sweep after the engine change must not
    # clear the staleness: the newest ROUND's sweep is what counts
    (seeded_repo / "etl_pipeline_api_spark" / "queries.py").write_text("# v2\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "engine v2", 2)
    (seeded_repo / "FULLSWEEP_r0.txt").write_text("229/229 passed\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "old round's sweep only", 3)
    problems = roundcheck.check_evidence_freshness(str(seeded_repo))
    assert any("FULLSWEEP" in p for p in problems)


def test_waiver_clears(seeded_repo: Path) -> None:
    (seeded_repo / "etl_pipeline_api_spark" / "queries.py").write_text("# v2\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "engine v2 (docstring only)", 2)
    h = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", "etl_pipeline_api_spark"],
        cwd=seeded_repo, capture_output=True, text=True,
    ).stdout.strip()
    (seeded_repo / "SWEEP_WAIVER").write_text(f"# docstring-only\n{h}\n")
    _git(seeded_repo, "add", "-A")
    _commit(seeded_repo, "waive v2", 3)
    assert roundcheck.check_evidence_freshness(str(seeded_repo)) == []


def test_dirty_engine_tree_fails(seeded_repo: Path) -> None:
    (seeded_repo / "etl_pipeline_api_spark" / "queries.py").write_text("# dirty\n")
    problems = roundcheck.check_evidence_freshness(str(seeded_repo))
    assert any("uncommitted" in p for p in problems)
