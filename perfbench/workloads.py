"""The benchmark's workloads: closed loop, one client, one Spark session.

Each workload warms up, then repeats its operation until the run's seconds
are spent, timing every operation from outside the program and checking
each result (outside the timed region). It returns the cost of one
operation plus the per-layer numbers its traced run yields.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen_gastos
from oracle import Oracle
from pyspark.sql import functions as F
from spans import Tracer

from etl_pipeline_api_spark.operators.dq import DQSuite
from etl_pipeline_api_spark.plans import gastos
from etl_pipeline_api_spark.plans import pipeline as pipeline_mod
from etl_pipeline_api_spark.sources import json_source

HERE = os.path.dirname(os.path.abspath(__file__))
# the registry's sf0.1 star schema, documents and embeddings, kept in the
# benchmark's directory so a run reads nothing outside its checkout
STAR_DATA = os.path.join(HERE, "data", "sf0.1")
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings"]

# (pages, records per page, corrupt files) per raw input; "smoke" is the
# minimum-size variant the benchmark's own tests run.
SIZES = {
    "full": {"batch": (12, 1000, 3), "load": (1, 500, 1)},
    "smoke": {"batch": (3, 100, 1), "load": (1, 50, 1)},
}
# medallion operations and star-queries passes (the checking pass included)
# run untimed before the timed ones: the first loads and code-generates what
# they run, at two to three times the CPU seconds of the next
WARM_OPS = {"full": 2, "smoke": 1}
WARM_PASSES = {"full": 2, "smoke": 1}
# a run times at least this many operations (passes, on star-queries), even
# past --seconds, so every figure is a median of as many, whatever the host's speed
MIN_OPS = 3
PHASES = ("batch", "load")
STAR_QUERIES = [
    "op-groupby-sum", "op-tpch-q1", "op-tpch-q3", "op-tpch-q6",
    "op-join-broadcast", "op-window-topk", "op-sessionize",
]
CORPUS_QUERIES = ["op-text-analysis", "op-sim-search"]
SMOKE_MIX = ["op-groupby-sum", "op-tpch-q6", "op-text-analysis"]
DRILL_TOP_N = 10


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str  # per-run scratch directory
    cache: str  # inputs kept across runs of one checkout
    seed: int
    seconds: float
    size: str
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


@dataclass
class Cost:
    """What a timed call cost: wall seconds; CPU seconds of the benchmark
    process and all its descendants, less the JVM's JIT compilation; and the
    seconds of that compilation."""
    wall: float
    cpu: float
    jit: float


@dataclass
class Result:
    op: Cost  # one operation: op_cpu_s, trace.op_p50_s, trace.op_cpu_s, engine.jit_s
    n_ops: int  # every operation run, warm-up included
    layer: dict[str, float] = field(default_factory=dict)


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks of the process and of its children
    that have exited) for every process in /proc."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            # ppid; utime + stime + cutime + cstime
            stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return stats


def _tree_of(stats: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    return _tree_of(_procs(), os.getpid())[1:]


def cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers), children that have exited included."""
    stats = _procs()
    return sum(stats[p][1] for p in _tree_of(stats, os.getpid())) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Measures the :class:`Cost` of what runs between its making and :meth:`stop`.

    JIT compilation, the JVM turning hot code into machine code, is paid
    once by a driver that runs for hours. A run of a minute pays it all
    along, unevenly, and slower when the host is busy: it made an operation's
    CPU seconds fall by half over a run's first eight operations and vary by
    a fifth between runs at the same operation. Without it the CPU seconds
    are the program's own work, level from the second operation on."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._compilation = mf.getCompilationMXBean()
        self.jit0 = self._compilation.getTotalCompilationTime()
        self.cpu0 = cpu_s()
        self.t0 = time.perf_counter()

    def stop(self) -> Cost:
        wall = time.perf_counter() - self.t0
        cpu = cpu_s() - self.cpu0
        jit = (self._compilation.getTotalCompilationTime() - self.jit0) / 1000.0
        return Cost(wall, cpu - jit, jit)


def _sum_of_medians(parts: list[list[Cost]]) -> Cost:
    """An operation's cost as the sum of each part's median, so every part counts."""
    return Cost(*(sum(_median(getattr(c, f) for c in part) for part in parts)
                  for f in ("wall", "cpu", "jit")))


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _tree(path: str) -> dict[str, int]:
    """Data files under ``path`` (no markers or checksums) and their sizes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    new = [p for p in after if p not in before]
    return len(new), sum(after[p] for p in new)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


# ---------------------------------------------------------------- inputs

def _exp_to_json(exp: gen_gastos.RawPages) -> dict:
    return {
        "n_records": exp.n_records, "n_corrupt": exp.n_corrupt, "raw_bytes": exp.raw_bytes,
        "gold": [[a, m, o, v] for (a, m, o), v in exp.gold.items()],
        "silver_rows": [[a, m, n] for (a, m), n in exp.silver_rows.items()],
        "favorecido": [[a, m, f, v] for (a, m), d in exp.favorecido.items() for f, v in d.items()],
    }


def _exp_from_json(d: dict) -> gen_gastos.RawPages:
    fav: dict = {}
    for a, m, f, v in d["favorecido"]:
        fav.setdefault((a, m), {})[f] = v
    return gen_gastos.RawPages(
        n_records=d["n_records"], n_corrupt=d["n_corrupt"], raw_bytes=d["raw_bytes"],
        gold={(a, m, o): v for a, m, o, v in d["gold"]},
        silver_rows={(a, m): n for a, m, n in d["silver_rows"]},
        favorecido=fav,
    )


def cached_pages(cache: str, tag: str, seed: int, months, spec):
    """Raw pages for (tag, seed, spec), generated once per checkout and
    generator version."""
    pages, per_page, corrupt = spec
    with open(gen_gastos.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache, "gastos", f"{tag}-s{seed}-{pages}x{per_page}-c{corrupt}-{version}")
    meta = out + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            return out, _exp_from_json(json.load(f))
    shutil.rmtree(out, ignore_errors=True)
    exp = gen_gastos.write_pages(out, seed, months, pages, per_page, corrupt)
    with open(meta + ".tmp", "w") as f:
        json.dump(_exp_to_json(exp), f)
    os.replace(meta + ".tmp", meta)
    return out, exp


# ---------------------------------------------------- medallion pipeline

class _TracedDQ:
    """Stands in for a stage's DQSuite so its gate runs inside a span."""

    def __init__(self, dq: DQSuite, tracer: Tracer):
        self._dq, self._tracer = dq, tracer

    def gate(self, df):
        with self._tracer.span("dq.gate"):
            return self._dq.gate(df)


def _traced(tracer: Tracer, name: str, fn):
    def call(*args):
        with tracer.span(name):
            return fn(*args)
    return call


def _build(ctx: Ctx, raw: str, lake: str, op: int, phase: str):
    dirs = [os.path.join(lake, d) for d in ("bronze", "silver", "gold")]
    pipe = gastos.build_pipeline(raw, *dirs)
    if ctx.tracer.enabled:
        for st in pipe.stages:
            st.read = _traced(ctx.tracer, "stage.read", st.read)
            st.write = _traced(ctx.tracer, "parquet_source.write", st.write)
            if st.dq is not None:
                st.dq = _TracedDQ(st.dq, ctx.tracer)
            run = st.run
            st.run = lambda spark, run=run, name=st.name: _stage_span(
                ctx.tracer, op, phase, name, run, spark)
    return pipe


def _stage_span(tracer: Tracer, op: int, phase: str, name: str, run, spark):
    with tracer.span("pipeline.stage", op=op, phase=phase, stage=name):
        return run(spark)


def _install_empty_guard_span(tracer: Tracer) -> None:
    """Stage.run calls the module-level empty guard; time it in a span."""
    if tracer.enabled and not getattr(pipeline_mod.is_empty, "_perfbench", False):
        guard = _traced(tracer, "cleaning.is_empty", pipeline_mod.is_empty)
        guard._perfbench = True
        pipeline_mod.is_empty = guard


def _gold_month(spark, gold: str, ano: int, mes: int) -> dict[str, float]:
    rows = (spark.read.parquet(gold)
            .filter((F.col("ano") == ano) & (F.col("mes") == mes))
            .select("nome_orgao", "total_gasto").collect())
    return {r.nome_orgao: r.total_gasto for r in rows}


def _check_gold_month(got: dict[str, float], exp: gen_gastos.RawPages, ano: int, mes: int) -> bool:
    want = {o: v for (a, m, o), v in exp.gold.items() if (a, m) == (ano, mes)}
    return got.keys() == want.keys() and all(_close(got[o], want[o]) for o in want)


def _lake_matches(spark, lake: str, exps: list[gen_gastos.RawPages]) -> bool:
    """Gold totals per (ano, mes, ORGAO) and silver rows per month equal the
    generator's, over every input landed in the lake."""
    want_gold = {k: v for e in exps for k, v in e.gold.items()}
    want_rows = {k: n for e in exps for k, n in e.silver_rows.items()}
    gold = {(r.ano, r.mes, r.nome_orgao): r.total_gasto
            for r in spark.read.parquet(os.path.join(lake, "gold")).collect()}
    rows = {(r.ano, r.mes): r["count"] for r in
            spark.read.parquet(os.path.join(lake, "silver")).groupBy("ano", "mes").count().collect()}
    return (rows == want_rows and gold.keys() == want_gold.keys()
            and all(_close(gold[k], v) for k, v in want_gold.items()))


def _drill_down(ctx: Ctx, silver: str, ano: int, mes: int, exp: gen_gastos.RawPages) -> Cost:
    """The analyst read after a load: top favorecidos of the month on silver."""
    watch = Stopwatch(ctx.spark)
    with ctx.tracer.span("silver.read"):
        rows = (ctx.spark.read.parquet(silver)
                .filter((F.col("ano") == ano) & (F.col("mes") == mes))
                .groupBy("nome_favorecido").agg(F.sum("valor").alias("total"))
                .orderBy(F.desc("total"), "nome_favorecido").limit(DRILL_TOP_N).collect())
    cost = watch.stop()
    want = sorted(exp.favorecido[(ano, mes)].items(), key=lambda kv: (-kv[1], kv[0]))[:DRILL_TOP_N]
    ok = [r.nome_favorecido for r in rows] == [f for f, _ in want] and all(
        _close(r.total, v) for r, (_, v) in zip(rows, want))
    ctx.outcome(ok, f"drill-down {ano}-{mes:02d}")
    return cost


@dataclass
class _Phase:
    """One pipeline run of an operation: its cost and what it wrote."""
    cost: Cost
    files_written: int
    bytes_written: int
    raw_bytes: int
    records: int
    input_sizes: dict[str, int]  # bytes each stage takes as input


@dataclass
class _Op:
    phases: dict[str, _Phase]
    read: Cost

    def parts(self) -> list[Cost]:
        return [self.phases[p].cost for p in PHASES] + [self.read]


def _stage_inputs(lake: str, raw_bytes: int) -> dict[str, int]:
    """Bytes each stage takes as input: the raw pages, then the whole
    bronze and silver layers (silver and gold re-read every partition)."""
    return {"bronze": raw_bytes,
            "silver": sum(_tree(os.path.join(lake, "bronze")).values()),
            "gold": sum(_tree(os.path.join(lake, "silver")).values())}


def _run_phase(ctx: Ctx, raw: str, exp: gen_gastos.RawPages, lake: str, op: int, phase: str,
               until_readable=None) -> _Phase:
    """Run the pipeline over ``raw`` into ``lake``; time it, then (untimed)
    record what it wrote."""
    pipe = _build(ctx, raw, lake, op, phase)
    before = _tree(lake)
    watch = Stopwatch(ctx.spark)
    pipe.run(ctx.spark)
    if until_readable is not None:
        until_readable()
    cost = watch.stop()
    files, nbytes = _written(before, _tree(lake))
    return _Phase(cost, files, nbytes, exp.raw_bytes, exp.n_records, _stage_inputs(lake, exp.raw_bytes))


def _phase_layers(spans: list[dict], op: _Op, phase: str) -> dict[str, float]:
    """One operation's per-layer numbers for one of its pipeline runs."""
    ph = op.phases[phase]
    m: dict[str, float] = {"parquet_source.files_written": ph.files_written}

    def add(k: str, v: float) -> None:
        m[k] = m.get(k, 0) + v

    for s in spans:
        stage = s["tags"].get("stage")
        if s["name"] == "pipeline.stage":
            add(f"pipeline.stage_s.{stage}", s["dur_s"])
            add(f"pipeline.stage_jobs.{stage}", s["jobs"])
            add(f"pipeline.input_passes.{stage}", s["input_bytes"] / max(1, ph.input_sizes[stage]))
            if stage == "bronze":
                add("json_source.scan_jobs", s["jobs_with_input"])
                add("json_source.input_bytes_per_raw_byte", s["input_bytes"] / ph.raw_bytes)
                add("json_source.task_s", s["task_s"])
            else:
                add("parquet_source.scan_bytes", s["input_bytes"])
            if stage == "gold":
                add("aggregations.shuffle_bytes", s["shuffle_write_bytes"])
                add("aggregations.task_s", s["task_s"])
        elif s["name"] == "cleaning.is_empty":
            add("cleaning.is_empty_s", s["dur_s"])
            add("cleaning.is_empty_jobs", s["jobs"])
        elif s["name"] == "dq.gate":
            add("dq.gate_s", s["dur_s"])
            add("dq.jobs", s["jobs"])
            add("dq.input_bytes", s["input_bytes"])
        elif s["name"] == "parquet_source.write":
            add("parquet_source.write_s", s["dur_s"])
            add("parquet_source.bytes_written", s["output_bytes"])
    return m


def _medallion_layers(ctx: Ctx, ops: dict[int, _Op], corrupt_files: int) -> dict[str, float]:
    """Per-layer medians over the measured operations. The batch run's
    numbers carry the plain names, the incremental load's a ``load.`` prefix."""
    spans: dict[tuple[int, str], list[dict]] = {}
    for s in ctx.tracer.spans:
        key = (s["tags"].get("op"), s["tags"].get("phase"))
        if key[0] in ops:
            spans.setdefault(key, []).append(s)
    per_op = []
    for i, o in ops.items():
        m = {}
        for phase in PHASES:
            prefix = "" if phase == "batch" else f"{phase}."
            for k, v in _phase_layers(spans.get((i, phase), []), o, phase).items():
                m[prefix + k] = v
        per_op.append(m)
    keys = {k for m in per_op for k in m}
    layer = {k: _median(m.get(k, 0.0) for m in per_op) for k in keys}
    vals = list(ops.values())
    layer["pipeline.batch_s"] = _median(o.phases["batch"].cost.wall for o in vals)
    layer["pipeline.load_s"] = _median(o.phases["load"].cost.wall for o in vals)
    layer["pipeline.read_s"] = _median(o.read.wall for o in vals)
    layer["pipeline.records_per_s"] = _median(
        o.phases["batch"].records / o.phases["batch"].cost.wall for o in vals)
    for phase in PHASES:
        layer[f"pipeline.write_amp.{phase}"] = _median(
            o.phases[phase].bytes_written / o.phases[phase].raw_bytes for o in vals)
    layer["json_source.corrupt_files"] = corrupt_files
    return layer


def _count_corrupt(ctx: Ctx, raw: str, exp: gen_gastos.RawPages) -> int:
    """The permissive scan's isolated files (traced runs only: one extra job)."""
    with ctx.tracer.span("json_source.corrupt_records"):
        n = json_source.corrupt_records(ctx.spark, raw, gastos.GASTOS_RECORD).count()
    ctx.outcome(n == exp.n_corrupt, f"corrupt files {n} != {exp.n_corrupt}")
    return n


def _inputs(ctx: Ctx):
    """(raw dir, expectations) of the batch input and of the month load."""
    return [cached_pages(ctx.cache, phase, ctx.seed, months, SIZES[ctx.size][phase])
            for phase, months in (("batch", gen_gastos.BATCH_MONTHS), ("load", [gen_gastos.LOAD_MONTH]))]


def _lake_op(ctx: Ctx, inputs, i: int) -> _Op:
    """One operation of the medallion workload, in fresh directories."""
    (batch_raw, batch_exp), (load_raw, load_exp) = inputs
    ano, mes = gen_gastos.LOAD_MONTH
    lake = os.path.join(ctx.work, f"lake-{i}")
    shutil.rmtree(lake, ignore_errors=True)
    silver, gold = os.path.join(lake, "silver"), os.path.join(lake, "gold")
    batch = _run_phase(ctx, batch_raw, batch_exp, lake, i, "batch")
    got: dict[str, float] = {}
    load = _run_phase(ctx, load_raw, load_exp, lake, i, "load",
                      until_readable=lambda: got.update(_gold_month(ctx.spark, gold, ano, mes)))
    ctx.outcome(_check_gold_month(got, load_exp, ano, mes), f"op {i}: loaded month's gold mismatch")
    read = _drill_down(ctx, silver, ano, mes, load_exp)
    ctx.outcome(_lake_matches(ctx.spark, lake, [batch_exp, load_exp]),
                f"op {i}: lake gold/silver mismatch")
    shutil.rmtree(lake, ignore_errors=True)
    return _Op({"batch": batch, "load": load}, read)


def medallion(ctx: Ctx) -> Result:
    """One lake's life per operation, on fresh directories: a batch
    raw → bronze → silver → gold run over 12 months, then an incremental
    load of one more month through the same pipeline (until that month's
    gold total is readable), then the analyst's drill-down read of the
    month on silver."""
    _install_empty_guard_span(ctx.tracer)
    inputs = _inputs(ctx)
    for i in range(WARM_OPS[ctx.size]):
        _lake_op(ctx, inputs, -1 - i)
    ops: dict[int, _Op] = {}
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(ops) < MIN_OPS:
        ops[len(ops)] = _lake_op(ctx, inputs, len(ops))
    print("perfbench: operations, wall s = batch + load + read [CPU s, JIT s]:", " ".join(
        "{:.2f}={} [{:.2f}, {:.2f}]".format(sum(c.wall for c in o.parts()),
                                           "+".join(f"{c.wall:.2f}" for c in o.parts()),
                                           sum(c.cpu for c in o.parts()), sum(c.jit for c in o.parts()))
        for o in ops.values()), file=sys.stderr)
    layer = {}
    if ctx.tracer.enabled:
        (batch_raw, batch_exp), _ = inputs
        layer = _medallion_layers(ctx, ops, _count_corrupt(ctx, batch_raw, batch_exp))
    parts = [list(part) for part in zip(*(o.parts() for o in ops.values()))]
    return Result(_sum_of_medians(parts), len(ops) + WARM_OPS[ctx.size], layer)


# ------------------------------------------------------- registry queries

def star_mix(size: str) -> list[str]:
    return SMOKE_MIX if size == "smoke" else STAR_QUERIES + CORPUS_QUERIES


def star_queries(ctx: Ctx) -> Result:
    """Read-only registry queries over the sf0.1 star schema, documents and
    embeddings. The operation is one pass over the mix, reported as the sum
    of the per-query medians.

    Every pass runs the mix in the same order, whatever the seed: the order
    in which the JIT first meets the queries shapes the code it compiles, and
    a seeded order moved a run's warm pass times by up to half. The inputs
    are the repository's sf0.1 tables, so the seed changes nothing here."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = star_mix(ctx.size)
    layer_of = {n: ("corpus" if n in CORPUS_QUERIES else "queries") for n in names}

    # warm-up; the first pass is the once-per-run check against the oracles
    t_warm = time.perf_counter()
    oracle = Oracle(STAR_DATA, STAR_TABLES)
    try:
        for n in names:
            try:
                err = oracle.check(oracles[n], queries[n](ctx.spark, STAR_DATA))
            except Exception as e:  # noqa: BLE001 — a failing query is an outcome
                err = f"{type(e).__name__}: {e}"
            ctx.outcome(err is None, f"{n}: {err}")
    finally:
        oracle.close()
    for _ in range(WARM_PASSES[ctx.size] - 1):
        for n in names:
            queries[n](ctx.spark, STAR_DATA).write.format("noop").mode("overwrite").save()
    t_warm = time.perf_counter() - t_warm

    # whole passes only, so every query of the mix has the same weight
    costs: dict[str, list[Cost]] = {n: [] for n in names}
    t_end = time.perf_counter() + ctx.seconds
    p = 0
    while p < MIN_OPS or time.perf_counter() < t_end:
        for n in names:
            watch = Stopwatch(ctx.spark)
            try:
                with ctx.tracer.span(f"{layer_of[n]}.{n}.plan", query=n, rep=p):
                    df = queries[n](ctx.spark, STAR_DATA)
                with ctx.tracer.span(f"{layer_of[n]}.{n}.exec", query=n, rep=p):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                ctx.outcome(False, f"{n}: {type(e).__name__}: {e}")
                continue
            costs[n].append(watch.stop())
        p += 1
    passes = [[c[k] for c in costs.values() if len(c) > k] for k in range(p)]
    print(f"perfbench: {WARM_PASSES[ctx.size]} warm-up passes {t_warm:.1f} s, then {p} timed passes, "
          "wall s [CPU s, JIT s]: " + " ".join(
              f"{sum(c.wall for c in ps):.2f} [{sum(c.cpu for c in ps):.2f}, {sum(c.jit for c in ps):.2f}]"
              for ps in passes), file=sys.stderr)
    layer = {}
    if ctx.tracer.enabled:
        layer = _query_layers(ctx, names, layer_of)
    return Result(_sum_of_medians(list(costs.values())), len(names) * (p + WARM_PASSES[ctx.size]), layer)


def _query_layers(ctx: Ctx, names: list[str], layer_of: dict[str, str]) -> dict[str, float]:
    samples: dict[tuple[str, str], list[dict]] = {}
    for s in ctx.tracer.spans:
        n = s["tags"].get("query")
        if n is not None:
            samples.setdefault((n, s["name"].rsplit(".", 1)[1]), []).append(s)
    layer: dict[str, float] = {}
    totals = {"queries": {}, "corpus": {}}
    for n in names:
        pre = f"{layer_of[n]}.{n}"
        layer[f"{pre}.plan_s"] = _median(s["dur_s"] for s in samples.get((n, "plan"), []))
        layer[f"{pre}.exec_s"] = _median(s["dur_s"] for s in samples.get((n, "exec"), []))
        t = totals[layer_of[n]]
        for counter, key in (("shuffle_write_bytes", "shuffle_bytes"), ("spill_bytes", "spill_bytes"),
                             ("gc_s", "gc_s"), ("task_s", "task_s"), ("tasks", "tasks"),
                             ("input_bytes", "scan_bytes")):
            per_rep: dict[int, float] = {}
            for phase in ("plan", "exec"):
                for s in samples.get((n, phase), []):
                    per_rep[s["tags"]["rep"]] = per_rep.get(s["tags"]["rep"], 0) + s[counter]
            t[key] = t.get(key, 0) + _median(per_rep.values())
    for group, t in totals.items():
        for key, v in t.items():
            layer[f"{group}.{key}"] = v
    return layer


WORKLOADS = {
    "medallion": medallion,
    "star-queries": star_queries,
}
