"""Round-start drift check + physical-plan gate.

1. Testdata drift: compare /root/testdata parquet physical schemas
against the recorded expectations in tools/testdata_schemas.json.
The round driver owns the testdata and can regenerate it between rounds
with CHANGED physical types — that exact event (events.ts int64-nanos →
timestamp[us] between rounds 2 and 3) silently broke three operators and
the whole bench.

2. Plan gate: audit the latest committed PLANS_r*.md snapshot (written
by tools/plan_audit.py). Fails on any untriaged **FLAGS** line, any
CartesianProduct not explicitly triaged as deliberate, any audit ERROR
block, and duplicated triage lines (the r5 hand-edit artifact) — making
the "plans I'd accept at 100× scale" bar self-enforcing instead of a
per-round reading exercise.

Run FIRST each round:

    python tools/roundcheck.py            # both checks, exit 1 on failure
    python tools/roundcheck.py --record   # re-record current schemas
    python tools/roundcheck.py --plans F  # gate a specific plans file

On schema drift: every consumer of the drifted column must branch on the
actual dtype (see queries._t / streaming.events.normalize_event_ts and
tests/test_ts_canary.py), then re-record.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD = os.path.join(HERE, "testdata_schemas.json")
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def snapshot() -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for sf in SF_DIRS:
        if not os.path.isdir(sf):
            continue
        for t in TABLES:
            p = os.path.join(sf, f"{t}.parquet")
            if not os.path.exists(p):
                continue
            s = pq.read_schema(p)
            out.setdefault(t, {})
            key = os.path.basename(sf)
            out[t][key] = ", ".join(f"{f.name}:{f.type}" for f in s)
    return out


def latest_plans_file(root: str) -> str | None:
    import glob
    import re as _re

    best, best_n = None, -1
    for p in glob.glob(os.path.join(root, "PLANS_r*.md")):
        m = _re.search(r"PLANS_r(\d+)\.md$", p)
        if m and int(m.group(1)) > best_n:
            best, best_n = p, int(m.group(1))
    return best


def check_plans(path: str) -> list[str]:
    """Gate a plan_audit snapshot. Returns a list of problems (empty = ok).

    Rules:
    - every query block whose stats line carries **FLAGS** must contain at
      least one ``- triage:`` line explaining why the plan is right;
    - a CARTESIAN flag fails even when triaged, unless the triage contains
      the literal phrase "deliberate cartesian" (a data-sized cartesian is
      never right at scale; saying the phrase is the explicit sign-off);
    - ERROR blocks fail (the audit could not even run the query);
    - a triage line repeated within one block fails (generator/hand-edit
      artifact that hides real diffs round-over-round).
    """
    import re as _re

    problems: list[str] = []
    text = open(path).read()
    for block in _re.split(r"^## ", text, flags=_re.M)[1:]:
        name = block.split("\n", 1)[0].strip()
        triages = _re.findall(r"^- triage: (.*)$", block, flags=_re.M)
        flags = _re.search(r"\*\*FLAGS: ([^*]*)\*\*", block)
        if "\nERROR:" in block or block.startswith("ERROR:"):
            problems.append(f"{name}: audit ERROR block")
        if flags and not triages:
            problems.append(f"{name}: untriaged FLAGS ({flags.group(1).strip()})")
        if flags and "CARTESIAN" in flags.group(1) and not any(
            "deliberate cartesian" in t.lower() for t in triages
        ):
            problems.append(f"{name}: CartesianProduct without explicit sign-off")
        if len(triages) != len(set(triages)):
            problems.append(f"{name}: duplicated triage line")
    return problems


def run_plans_gate(path: str | None) -> int:
    if path is None:
        print("plans: no PLANS_r*.md snapshot found (run tools/plan_audit.py)")
        return 0
    problems = check_plans(path)
    if problems:
        print(f"plans gate FAILED on {os.path.basename(path)}:")
        for p in problems:
            print(f"  - {p}")
        return 1
    print(f"ok: plans gate clean ({os.path.basename(path)})")
    return 0


def _git_last_commit_ts(root: str, paths: list[str]) -> tuple[int, str] | None:
    """(committer timestamp, hash) of the newest commit touching paths, or
    None if no commit touches them."""
    import subprocess

    out = subprocess.run(
        ["git", "log", "-1", "--format=%ct %H", "--"] + paths,
        cwd=root, capture_output=True, text=True,
    ).stdout.strip()
    if not out:
        return None
    ts, h = out.split()
    return int(ts), h


def check_evidence_freshness(root: str) -> list[str]:
    """Gate: the newest round's committed FULLSWEEP_r*.txt must be at
    least as new as the last commit touching the engine
    (etl_pipeline_api_spark/, __spark_entry__.py) — round 6 shipped a
    final commit that changed two queries' gates AFTER the committed
    sweep; it happened to be green only because the judge re-ran it.
    Waiver: a committed SWEEP_WAIVER file listing the engine commit's
    full hash (one per line, '#' comments) accepts that commit without
    fresh artifacts — for changes that provably can't affect results.

    Returns a list of problems (empty = fresh). Uncommitted engine edits
    are reported too: no committed artifact can cover a dirty tree.
    """
    import glob as _glob
    import re as _re
    import subprocess

    problems: list[str] = []
    engine_paths = ["etl_pipeline_api_spark", "__spark_entry__.py"]
    code = _git_last_commit_ts(root, engine_paths)
    if code is None:
        return []  # no engine commits yet — nothing to be stale against
    t_code, h_code = code

    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--"] + engine_paths,
        cwd=root, capture_output=True, text=True,
    ).stdout.strip()
    if dirty:
        problems.append(
            "engine tree has uncommitted changes — no committed sweep can "
            "cover them:\n    " + "\n    ".join(dirty.splitlines()[:5])
        )

    waived = False
    waiver = os.path.join(root, "SWEEP_WAIVER")
    if os.path.exists(waiver):
        hashes = {
            ln.strip() for ln in open(waiver)
            if ln.strip() and not ln.startswith("#")
        }
        waived = h_code in hashes

    files = _glob.glob(os.path.join(root, "FULLSWEEP_r*.txt"))
    if files:
        # newest ROUND only — an old round's artifact being old is fine
        def rnd(p: str) -> int:
            m = _re.search(r"_r(\d+)", os.path.basename(p))
            return int(m.group(1)) if m else -1

        top = max(rnd(p) for p in files)
        files = [p for p in files if rnd(p) == top]
    arts = [_git_last_commit_ts(root, [p]) for p in files]
    arts = [a for a in arts if a is not None]
    if not arts:
        problems.append("FULLSWEEP: no committed artifact found")
    elif max(a[0] for a in arts) < t_code and not waived:
        problems.append(
            f"FULLSWEEP: newest committed artifact predates the last "
            f"engine commit {h_code[:9]} — re-run and commit it "
            f"(or waive {h_code[:9]} in SWEEP_WAIVER)"
        )
    return problems


def run_freshness_gate(root: str) -> int:
    problems = check_evidence_freshness(root)
    if problems:
        print("evidence-freshness gate FAILED:")
        for p in problems:
            print(f"  - {p}")
        return 1
    print("ok: sweep evidence is as new as the last engine commit")
    return 0


def main() -> int:
    if "--plans" in sys.argv:
        i = sys.argv.index("--plans")
        path = sys.argv[i + 1] if len(sys.argv) > i + 1 else latest_plans_file(
            os.path.dirname(HERE)
        )
        return run_plans_gate(path)
    cur = snapshot()
    if "--record" in sys.argv:
        with open(RECORD, "w") as f:
            json.dump(cur, f, indent=1, sort_keys=True)
        print(f"recorded {sum(len(v) for v in cur.values())} schemas -> {RECORD}")
        return 0
    if not os.path.exists(RECORD):
        print(f"no record at {RECORD}; run with --record first")
        return 1
    want = json.load(open(RECORD))
    drift = []
    for t, sfs in cur.items():
        for sf, schema in sfs.items():
            old = want.get(t, {}).get(sf)
            if old is None:
                drift.append(f"NEW   {t}@{sf}: {schema}")
            elif old != schema:
                drift.append(f"DRIFT {t}@{sf}:\n  was {old}\n  now {schema}")
    for t, sfs in want.items():
        for sf in sfs:
            if sf not in cur.get(t, {}):
                drift.append(f"GONE  {t}@{sf}")
    if drift:
        print("\n".join(drift))
        print(f"\n{len(drift)} drift(s) — audit every consumer, then --record")
        return 1
    print(f"ok: {sum(len(v) for v in cur.values())} schemas match the record")
    root = os.path.dirname(HERE)
    rc = run_plans_gate(latest_plans_file(root))
    # evidence-freshness gate: the committed dual-SF sweep must postdate
    # the last engine commit (r6 lesson: a final commit changed two gates
    # after the committed sweep)
    return rc or run_freshness_gate(root)


if __name__ == "__main__":
    sys.exit(main())
