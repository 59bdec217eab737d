"""CLI — ``python -m etl_pipeline_api_spark <cmd>``.

The operational front door a reference user gets after switching: every
registered operator query is runnable by name against any scale-factor
directory, the full reference pipeline runs end-to-end, and the list
command is the live operator inventory (COVERAGE.md's machine-readable
twin).

    python -m etl_pipeline_api_spark list [--no-oracle]
    python -m etl_pipeline_api_spark run op-groupby-sum [--sf DIR] [-n 20]
    python -m etl_pipeline_api_spark pipeline --raw DIR --out DIR
    python -m etl_pipeline_api_spark explain op-tpch-q5 [--sf DIR]

`run` prints the result preview and timing; `explain` prints the
formatted physical plan (the 100 TB design artifact — broadcasts,
pushed filters, exchange count) without executing."""

from __future__ import annotations

import argparse
import sys
import time


def _load_registry():
    # the queries_* modules self-register on import; __spark_entry__ is the
    # canonical import list (the same one the driver and bench use)
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_pipeline_api_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registered operator queries")
    lp.add_argument(
        "--no-oracle", action="store_true",
        help="only queries without a DuckDB oracle (rows-only checked)",
    )

    rp = sub.add_parser("run", help="run one operator query")
    rp.add_argument("name")
    rp.add_argument("--sf", default="/root/testdata/sf0.01", help="table dir")
    rp.add_argument("-n", type=int, default=20, help="preview rows")

    ep = sub.add_parser("explain", help="print a query's physical plan")
    ep.add_argument("name")
    ep.add_argument("--sf", default="/root/testdata/sf0.001")

    pp = sub.add_parser("pipeline", help="run the reference medallion pipeline")
    pp.add_argument("--raw", required=True, help="raw JSON pages directory")
    pp.add_argument("--out", required=True, help="output root (bronze/silver/gold)")

    args = p.parse_args(argv)

    if args.cmd == "list":
        queries, oracles = _load_registry()
        for name in sorted(queries):
            if args.no_oracle and name in oracles:
                continue
            tag = "oracle" if name in oracles else "rows-only"
            print(f"{name}\t{tag}")
        return 0

    from .session import get_spark

    if args.cmd in ("run", "explain"):
        queries, _ = _load_registry()
        if args.name not in queries:
            print(f"unknown query {args.name!r} — see `list`", file=sys.stderr)
            return 2
        spark = get_spark("cli")
        df = queries[args.name](spark, args.sf)
        if args.cmd == "explain":
            df.explain("formatted")
            return 0
        t0 = time.time()
        rows = df.limit(args.n).collect()
        n = df.count()
        dt = time.time() - t0
        # print the rows already collected: show() would run the query again
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join(str(v)[:60] for v in r))
        print(f"{n} rows total ({len(rows)} shown) in {dt:.2f}s")
        return 0

    if args.cmd == "pipeline":
        import os

        from .plans.gastos import build_pipeline

        spark = get_spark("cli")
        layers = {k: os.path.join(args.out, k) for k in ("bronze", "silver", "gold")}
        build_pipeline(args.raw, *layers.values()).run(spark)
        # count what each stage wrote: counting the frames run() returns
        # would re-run each stage's plan from its input
        for layer, path in layers.items():
            print(f"{layer}: {spark.read.parquet(path).count()} rows")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
