"""Physical-plan audit for the core queries.

Prints, per query, the scale-relevant plan facts Catalyst chose at
$SPARK_GRAFT_SF_DIR (default sf0.1):

- exchanges (shuffles) and broadcast exchanges,
- whole-stage-codegen coverage (spans vs total operators),
- parquet scans with PushedFilters / ReadSchema (pushdown + pruning
  evidence: a scan reading all columns for a 2-column projection is a bug),
- joins by strategy (broadcast-hash / sort-merge / shuffled-hash),
- red flags: CartesianProduct / BroadcastNestedLoopJoin outside the
  deliberate small-side cross joins.

Usage: python tools/plan_audit.py [name ...]   (default: CORE_QUERIES)
Output is markdown (PLANS_r{N}.md is a committed snapshot).

NB: counts come from the POST-EXECUTION adaptive plan's string rendering,
which re-prints reused exchanges/stages — so shuffle/broadcast numbers are
comparable round-over-round upper bounds, not exact exchange counts. The
flags and the pushdown/pruning lines are exact.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_api_spark.queries import CORE_QUERIES, QUERIES  # noqa: E402
import __spark_entry__  # noqa: E402,F401  (registers every query batch)
from etl_pipeline_api_spark.session import get_spark  # noqa: E402


def audit(plan: str) -> dict[str, object]:
    count = lambda pat: len(re.findall(pat, plan))  # noqa: E731
    return {
        "shuffles": count(r"Exchange hashpartitioning|Exchange rangepartitioning"),
        "broadcasts": count(r"BroadcastExchange"),
        # executedPlan().toString() marks codegen as "*(N) Op"; distinct N
        # = number of fused codegen spans
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "bhj": count(r"BroadcastHashJoin"),
        "smj": count(r"SortMergeJoin"),
        "shj": count(r"ShuffledHashJoin"),
        "cartesian": count(r"CartesianProduct"),
        "bnlj": count(r"BroadcastNestedLoopJoin"),
        "scans": re.findall(
            r"Scan parquet[^\n]*\n(?:.*\n)*?.*ReadSchema: (\S+)", plan
        )[:4],
        "pushed": re.findall(r"PushedFilters: (\[[^\]]*\])", plan)[:4],
    }


# Deliberate plan "smells" — flagged queries whose nested-loop joins are
# intentional small-side broadcasts, with the reason the plan is right.
TRIAGE = {
    "op-negative-sampling": "BNLJ = crossJoin(broadcast(8 anchor vectors)) "
                            "— the bounded-query exact-search shape shared "
                            "with op-sim-search / op-knn-classify; the "
                            "per-anchor window partitions on anchor_id.",
    "op-sim-search": "BNLJ = crossJoin(broadcast(query vectors)) — bounded "
                     "query set against the distributed corpus, the exact "
                     "top-k search shape (similarity.cosine_topk).",
    "op-pq-topk": "BNLJ = crossJoin(broadcast(bounded query set carrying "
                  "its m*k-entry ADC lookup table)) — the op-sim-search "
                  "shape; the corpus side scans 4 ints per row and "
                  "shuffles once for the per-query top-k window.",
    "op-pq-quality": "BNLJ = the measurement harness's crossJoins: "
                     "broadcast(8 queries) onto the coded corpus for the "
                     "every-pair triangle check, plus 1-row gate "
                     "aggregates (max recon error, near-opt flag) — "
                     "bounded sides only; apparatus, not a production "
                     "path (the production search is op-pq-topk).",
    "op-lm-score": "BNLJ = join(broadcast(1-row corpus total)) — scalar "
                   "normalization constant attached to every row; a shuffle "
                   "join on a literal key would be strictly worse.",
    "op-dedup-minhash": "BNLJ x4 = the recall-gate summary's crossJoins of "
                        "FOUR 1-row aggregates (n_exact/n_lsh/n_common + "
                        "seed); SMJ x2 = the exact-vs-LSH pair intersection "
                        "and Jaccard join on data-sized sides — linear "
                        "equi-joins, the correct strategy when neither side "
                        "is broadcastable.",
    "op-knn-classify": "BNLJ = crossJoin(broadcast(16 query vectors)) — the "
                       "same bounded-query top-k search shape as "
                       "op-sim-search; the vote itself is two tiny hash "
                       "joins.",
    "op-interval-overlap": "BNLJ = crossJoin(broadcast(1-row pair-count "
                           "aggregate)) assembling the one-row summary; the "
                           "overlap join itself lowers to hash joins on the "
                           "cell key (plan-asserted in tests/test_plans.py).",
    "op-revenue-concentration": "BNLJ = crossJoin(broadcast(1-row (n, total) "
                                "aggregate)) — the Gini constants attached "
                                "to every ranked row; the rank itself is the "
                                "range-partitioned global_row_index shape, "
                                "no single-task sort.",
    "op-cuped": "BNLJ = crossJoin(broadcast(1-row midpoint frame)) tagging "
                "each metric row pre/post — the scalar-constant shape; "
                "everything else is one map-combined user agg + a 1-row "
                "sums agg.",
    "op-tpch-q11": "BNLJ = crossJoin(broadcast(1-row total-value aggregate)) "
                   "— the HAVING-share threshold attached to every per-part "
                   "row (exact integer cents compare); the data joins are "
                   "broadcasts of supplier/nation.",
    "op-bootstrap-ci": "BNLJ (if present) = the 1×2R wide row unstacking "
                       "into the R-row means frame — constant-sized frames "
                       "only; the data pass is one map-combined global "
                       "aggregate.",
    "op-pagerank": "BNLJ = the 1-row scalar frame (initial rank 1/N + "
                   "teleport base) riding crossJoin(broadcast(...)) — once "
                   "for the initial ranks and once per unrolled round in "
                   "the AQE plan string; each round's data join is the "
                   "single src equi-join (bhj on node-sized frames).",
    "op-semdedup": "BNLJ x4 = the gate summary's crossJoins of 1-row "
                   "aggregates (n_points / n_droppable / "
                   "n_dropped_outside_exact) plus kmeans' broadcast "
                   "seeding frame; the within-cluster candidate join is a "
                   "cluster-key equi-join and the exact drop ceiling is "
                   "the block-pair matmul (applyInPandas groups) — no "
                   "data-sized nested loop anywhere.",
    "op-tpch-q2": "BNLJ = the derived-partsupp build: part crossJoin "
                  "broadcast(4-row replicate range) crossJoin broadcast("
                  "1-row supplier count) — a narrow constant fan-out map "
                  "over part, re-printed per reuse; all data joins are "
                  "dimension broadcasts.",
    "op-tpch-q16": "BNLJ = the same derived-partsupp constant fan-out "
                   "(4-row range + 1-row supplier count broadcasts) as "
                   "op-tpch-q2; the exclusion is a broadcast LEFT ANTI, "
                   "the rollup one shuffle.",
    "op-tpch-q20": "BNLJ = the same derived-partsupp constant fan-out "
                   "(4-row range + 1-row supplier count broadcasts) as "
                   "op-tpch-q2; lineitem pre-aggregates once and every "
                   "other join broadcasts.",
    "op-bpe-encode": "BNLJ x2 = crossJoin(broadcast(1-row n_words "
                     "aggregate)) attaching the corpus word count to the "
                     "1-row encode totals for the r9 bounds gate "
                     "(bpe <= chars, bpe >= words) — constant-sized "
                     "sides only; the encode itself is one row-local "
                     "Arrow pass, zero shuffle.",
    "op-corpus-curate-full": "BNLJ x4 = the r9 gate assembly's crossJoins "
                             "of 1-row aggregates (survivor counts full_"
                             "outer agg, missed-pairs count, the 2-flag "
                             "gate row broadcast onto the survivor list) — "
                             "all 1-row broadcast sides; the data joins "
                             "(band buckets, Jaccard verification, "
                             "survivor anti-joins) are equi-joins over "
                             "checkpointed frames, and both near-dup "
                             "branches run on the md5-sampled universe.",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or CORE_QUERIES
    spark = get_spark("plan_audit")
    print(f"# Plan audit @ {sf_dir}\n")
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"## {name}\nUNKNOWN QUERY\n")
            continue
        try:
            df = fn(spark, sf_dir)
            # Execute first: under AQE the FINAL plan (stage re-plans,
            # codegen markers, runtime join strategy switches) only exists
            # after the query runs; the pre-execution plan is provisional.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must cover every query
            print(f"## {name}\nERROR: {type(e).__name__}: {str(e)[:200]}\n")
            continue
        a = audit(plan)
        flags = []
        if a["cartesian"]:
            flags.append(f"CARTESIAN x{a['cartesian']}")
        if a["bnlj"]:
            flags.append(f"BNLJ x{a['bnlj']}")
        joins = ", ".join(
            f"{k}={a[k]}" for k in ("bhj", "smj", "shj") if a[k]
        ) or "none"
        print(f"## {name}")
        print(
            f"- shuffles={a['shuffles']} broadcasts={a['broadcasts']} "
            f"codegen_spans={a['codegen_spans']} joins: {joins}"
            + (f"  **FLAGS: {'; '.join(flags)}**" if flags else "")
        )
        if flags and name in TRIAGE:
            print(f"- triage: {TRIAGE[name]}")
        for schema, pushed in zip(a["scans"], a["pushed"] + ["[]"] * 4):
            print(f"- scan {schema[:110]} pushed={pushed[:80]}")
        print()


if __name__ == "__main__":
    main()
