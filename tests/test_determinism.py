"""Registry-wide determinism sweep (r10): every registered query runs
TWICE in one session at sf0.001 and the two results must canon-hash
equal.

The driver's oracle gate compares one Spark run against DuckDB — a query
that is nondeterministic run-to-run (unstable top-k tiebreak, rand()
without a seed, current_timestamp leaking into output, sampling keyed on
partition layout, unordered limit) passes that gate intermittently and
poisons round-over-round comparisons. Per-op determinism tests exist for
the sampling/noise ops; this sweep makes the property a REGISTRY
invariant: a new query joins it automatically and cannot ship
run-dependent output unnoticed.

Both runs build fresh plans (each queries()[name] call re-derives the
DataFrame), so in-query localCheckpoints re-execute and the second run
re-derives everything the first one computed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

from conftest import sweep_params

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from check_correctness import canon  # noqa: E402

SF = "/root/testdata/sf0.001"

# name -> documented reason a query may differ run-to-run. EMPTY by
# design: every registered query is required to be deterministic — the
# sampling ops hash their keys (md5/xxhash64), the noise ops seed their
# generators, top-ks tiebreak on ids. An entry here needs a written
# contract rationale.
NONDET_SKIP: dict[str, str] = {}


def _names():
    import __spark_entry__ as m

    return [n for n in sorted(m.queries()) if n not in NONDET_SKIP]


@pytest.mark.parametrize("name", sweep_params(_names()))
def test_query_is_run_to_run_deterministic(spark, name):
    import __spark_entry__ as m

    fn = m.queries()[name]
    first = canon(fn(spark, SF).toPandas())
    second = canon(fn(spark, SF).toPandas())
    assert first == second, (
        f"{name}: two runs in one session disagree — "
        f"run1-only={sorted(set(first) - set(second))[:3]} "
        f"run2-only={sorted(set(second) - set(first))[:3]}"
    )


def test_determinism_inventory_pinned():
    import __spark_entry__ as m

    names = _names()
    assert len(names) >= 228, f"determinism sweep shrank to {len(names)}"
    registered = set(m.queries())
    for k, why in NONDET_SKIP.items():
        assert k in registered, f"NONDET_SKIP names unknown query {k}"
        assert len(why) > 40, f"NONDET_SKIP[{k}] lacks a real rationale"


@pytest.fixture(scope="module", autouse=True)
def _cache_hygiene(spark):
    """This module runs the ENTIRE registry, including self-persisting
    queries (op-lm-score, dedup-cluster caches) — drop their CacheManager
    entries and freed memory on module exit so later plan-shape tests
    audit pristine plans (r10 in-suite flake)."""
    yield
    spark.catalog.clearCache()
