"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds one Spark session on
``local[<cores>]``, runs the workload for ``--seconds`` and prints, as the
last line of stdout, one JSON object with keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything it writes stays under
``perfbench/.work`` in the checkout. Exits non-zero, printing no result,
when the program is not importable from the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# name -> unit; every workload prints every one of them
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_cpu_s": "s"}
STAGES = ("bronze", "silver", "gold")


# span-derived numbers of one pipeline run; the incremental load's carry a "load." prefix
PHASE_LAYER = {
    **{f"pipeline.stage_s.{st}": "s" for st in STAGES},
    **{f"pipeline.stage_jobs.{st}": "count" for st in STAGES},
    **{f"pipeline.input_passes.{st}": "ratio" for st in STAGES},
    "json_source.scan_jobs": "count", "json_source.input_bytes_per_raw_byte": "ratio",
    "json_source.task_s": "s",
    "cleaning.is_empty_s": "s", "cleaning.is_empty_jobs": "count",
    "dq.gate_s": "s", "dq.jobs": "count", "dq.input_bytes": "B",
    "aggregations.shuffle_bytes": "B", "aggregations.task_s": "s",
    "parquet_source.write_s": "s", "parquet_source.bytes_written": "B",
    "parquet_source.files_written": "count", "parquet_source.scan_bytes": "B",
}


def per_layer_units(star: list[str], corpus: list[str]) -> dict[str, str]:
    units = {"session.bootstrap_s": "s", "session.first_job_s": "s"}
    units.update({
        "pipeline.batch_s": "s", "pipeline.load_s": "s", "pipeline.read_s": "s",
        "pipeline.records_per_s": "rec/s",
        "pipeline.write_amp.batch": "ratio", "pipeline.write_amp.load": "ratio",
        "json_source.corrupt_files": "count",
    })
    units.update(PHASE_LAYER)
    units.update({f"load.{k}": u for k, u in PHASE_LAYER.items()})
    for group, names in (("queries", star), ("corpus", corpus)):
        for n in names:
            units[f"{group}.{n}.plan_s"] = "s"
            units[f"{group}.{n}.exec_s"] = "s"
    units.update({
        "queries.shuffle_bytes": "B", "queries.spill_bytes": "B", "queries.gc_s": "s",
        "queries.task_s": "s", "queries.tasks": "count", "queries.scan_bytes": "B",
        "corpus.shuffle_bytes": "B", "corpus.spill_bytes": "B", "corpus.gc_s": "s",
        "corpus.task_s": "s",
        "engine.failed_tasks": "count", "engine.gc_s": "s", "engine.jit_s": "s",
        "trace.op_p50_s": "s", "trace.op_cpu_s": "s",
    })
    return units


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python create inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _stop(spark, started: list[int]) -> None:
    """Stop the session, then the gateway JVM, and wait for it and every
    other process in ``started`` (its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:  # it ended meanwhile
                pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size; smoke is for the benchmark's own tests")
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    sys.path[:0] = [ROOT, HERE]
    try:
        from etl_pipeline_api_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    spark = get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        bootstrap_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        first_job_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, run_dir, os.path.join(WORK, "cache"),
                            args.seed, args.seconds, args.size)
        if tracer.enabled:
            failed0, gc0 = tracer.executor_totals()
        t_work = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        t_work = time.perf_counter() - t_work
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss = _peak_rss_mb([os.getpid(), jvm_pid])

        if tracer.enabled:
            failed1, gc1 = tracer.executor_totals()
            layer = dict.fromkeys(
                per_layer_units(workloads.STAR_QUERIES, workloads.CORPUS_QUERIES), 0.0)
            layer.update(res.layer)
            layer.update({
                "session.bootstrap_s": bootstrap_s, "session.first_job_s": first_job_s,
                "engine.failed_tasks": failed1 - failed0,
                "engine.gc_s": (gc1 - gc0) / res.n_ops,
                "trace.op_p50_s": res.op.wall, "trace.op_cpu_s": res.op.cpu, "engine.jit_s": res.op.jit,
            })
            units = per_layer_units(workloads.STAR_QUERIES, workloads.CORPUS_QUERIES)
            metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            values = {"setup_s": bootstrap_s + first_job_s, "peak_rss_mb": peak_rss,
                      "op_cpu_s": res.op.cpu}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        t_stop = time.perf_counter()
        _stop(spark, workloads.descendants())
        shutil.rmtree(run_dir, ignore_errors=True)
        t_stop = time.perf_counter() - t_stop

    print(f"perfbench: set-up {bootstrap_s + first_job_s:.1f} s, workload {t_work:.1f} s, "
          f"stop {t_stop:.1f} s, total {time.perf_counter() - T_START:.1f} s", file=sys.stderr)

    for err in ctx.errors[:20]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
