"""Named operator queries + DuckDB oracle SQL (the driver's correctness gate).

Every implemented operator from SURVEY.md §2 gets:
  - a ``queries()[name]`` callable ``(spark, sf_dir) -> DataFrame`` exercising
    the operator over the driver testdata tables, and
  - an ``oracle_sql()[name]`` ANSI-SQL twin for DuckDB over the same tables
    (views ``region nation customer supplier part orders lineitem events
    documents embeddings`` are pre-registered by the driver).

Column names AND types are aligned on both sides (the driver's compare sorts
columns by name and hashes values). Doubles that pass through order-sensitive
aggregation are rounded on both sides; year()/month() are cast to INT on the
DuckDB side to match Spark's int32.

Ops that are driver-side (HTTP source, retry, file sinks) or genuinely
non-SQL (MinHash LSH, SimHash) have unit tests instead of oracles; non-SQL
ones still appear in ``queries()`` for the rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregations as agg
from .operators import cleaning
from .operators.dq import DQSuite, non_negative_check, not_null_check, range_check

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Core set: the heavy/representative ops that tier-1's registry sweeps
# (tests/conftest.py::sweep_params) and tools/plan_audit.py run by default.
CORE_QUERIES: list[str] = [
    "op-groupby-sum",
    "op-parquet-scan",
    "op-union-all",
    "op-eda-report",
    "op-dq-suite",
    "op-cast-nullable-int",
    "op-upper-trim",
    "op-join-broadcast",
    "op-window-topk",
    "op-asof-join",
    "op-dedup-fuzzy",
    "op-dedup-minhash",
    "op-dedup-embedding",
    "op-dedup-embedding-blocked",
    "op-sim-search",
    "op-text-analysis",
    "op-text-fingerprint",
    "op-tpch-q3",
    "op-tpch-q5",
    "op-window-running",
    "op-range-join",
    "op-embed-normalize",
    "op-tpch-q1",
    "op-tpch-q6",
    "op-tpch-q7",
    "op-tpch-q8",
    "op-tpch-q13",
    "op-tpch-q18",
    "op-stats-agg",
    "op-line-dedup",
    "op-decontaminate",
    "op-corpus-curate",
    "op-corpus-curate-full",
    "op-tpch-q9",
    "op-tpch-q21",
    "op-lm-score",
    "op-quality-classifier",
    "op-approx-distinct",
    "op-skew-report",
    "op-sessionize",
    "op-funnel",
    "op-span-dup-stats",
    # round-5 batch 11/12 representatives
    "op-pagerank",
    "op-knn-classify",
    "op-interval-overlap",
    "op-revenue-concentration",
    # round-5 second-wave representatives (monitoring, resampling,
    # graph traversal, experimentation, robust metrics)
    "op-psi-drift",
    "op-bootstrap-ci",
    "op-graph-bfs",
    "op-cuped",
    "op-winsorize",
    # round-6: the partsupp four complete TPC-H 22/22
    "op-tpch-q2",
    "op-tpch-q11",
    "op-tpch-q16",
    "op-tpch-q20",
    # round-7: the r6 sweep's slowest entries
    "op-stream-stream-join",
    "op-bpe-encode",
    "op-stream-stateful",
    "op-dedup-embedding-lsh",
    "op-lsh-tuning",
    "op-asof-cogroup",
    "op-semdedup",
    # round-12: perceptual near-dup + the sketch family
    "op-multimodal-neardup",
    "op-countmin-freq",
    "op-bloom-semijoin",
    "op-stream-countmin",
    "op-negative-sampling",
]


def query(name: str, oracle: str | None = None):
    def deco(fn):
        # a duplicate name silently SHADOWS the earlier query (import
        # order wins) — exactly how queries_rel2's orders ORC round-trip
        # disappeared behind queries_rel9's events one for four rounds;
        # fail loudly instead. Re-registration of the SAME function (the
        # module imported again under a second identity via sys.path
        # aliasing or importlib.reload in tests) is an idempotent no-op,
        # not an error — only a genuinely different callable collides.
        # "Same" means module+qualname AND the same source location
        # (co_filename/co_firstlineno): a second same-named def in the
        # same module registering the same query name is a collision,
        # not a reload — the exact shadowing class this guard exists for.
        prev = QUERIES.get(name)
        if prev is not None:
            pc = getattr(prev, "__code__", None)
            fc = getattr(fn, "__code__", None)
            same_def = (
                getattr(prev, "__module__", None) == fn.__module__
                and getattr(prev, "__qualname__", None) == fn.__qualname__
                and pc is not None
                and fc is not None
                and pc.co_filename == fc.co_filename
                and pc.co_firstlineno == fc.co_firstlineno
            )
            if not same_def:
                raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (rounds 1-2)
    # and timestamp[us]/TIMESTAMP_NTZ (round 3+). Handling is TYPE-DRIVEN:
    # engine sessions set the nanosAsLong read-compat flag at build time
    # (session.py::get_spark — a no-op on µs data); if ts then arrives as a
    # long it is truncated ns→µs exactly like DuckDB's TIMESTAMP_NS→
    # TIMESTAMP read. A VANILLA session (the driver's gate) reads the
    # current µs encoding untouched — and would fail LOUDLY (PARQUET_TYPE_
    # ILLEGAL), never silently rescale, if the source ever ships NANOS
    # again; tools/roundcheck.py's schema canary catches that at round
    # start. No per-call conf mutation: query builders must not change
    # session state (r2 ADVICE #4). tests/test_ts_canary.py locks both
    # encodings; tests/test_vanilla_gate.py locks the vanilla path.
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div (not /1000 via double — int64 ns exceeds double mantissa)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# =====================================================================
# §2.4 aggregations — flagship first (SURVEY §7 step 1)
# =====================================================================

@query(
    "op-groupby-sum",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)  AS ano,
           CAST(month(o_orderdate) AS INT) AS mes,
           upper(trim(n_name))             AS nome_orgao,
           round(sum(o_totalprice), 2)     AS total_gasto
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's gold aggregation (main.py:303-307) —
    SUM(valor) by (ano, mes, nome_orgao) — over the testdata star schema:
    orders as the fact, nation name as the org analog.

    Scale notes: nation (25 rows) and customer (|orders|/10) are broadcast —
    the fact table never shuffles for the join; the only shuffle is the
    partial→final hash agg on the (ano, mes, nome_orgao) keys.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("ano"),
        F.month("o_orderdate").alias("mes"),
        "o_totalprice",
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.upper(F.trim("n_name")).alias("nome_orgao")
    )
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return agg.groupby_sum(
        joined, ["ano", "mes", "nome_orgao"], "o_totalprice",
        out_col="total_gasto", round_to=2,
    )


@query(
    "op-rename",
    oracle="""
    SELECT l_returnflag AS flag, l_linestatus AS status,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-rename (main.py:306): aggregate then rename columns."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )
    return cleaning.rename(out, {"l_returnflag": "flag", "l_linestatus": "status"})


@query("op-count", oracle="SELECT count(*) AS n_rows FROM lineitem")
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-count (main.py:243): scalar row count as a 1-row DataFrame."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "op-count-distinct",
    oracle="SELECT count(DISTINCT user_id) AS n_distinct FROM events",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-count-distinct (main.py:244, nunique)."""
    return agg.count_distinct(_t(spark, sf_dir, "events"), "user_id")


@query(
    "op-min-max",
    oracle="SELECT min(o_orderdate) AS min_value, max(o_orderdate) AS max_value FROM orders",
)
def q_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-min-max (main.py:245-248): temporal range."""
    return agg.min_max(_t(spark, sf_dir, "orders"), "o_orderdate")


@query(
    "op-mean-round",
    oracle="SELECT round(avg(value), 2) AS mean_value FROM events",
)
def q_mean_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-mean-round (main.py:249)."""
    return agg.mean_round(_t(spark, sf_dir, "events"), "value")


@query(
    "op-eda-report",
    oracle="""
    SELECT count(*)                    AS n_rows,
           count(DISTINCT event_type)  AS n_distinct,
           min(ts)                     AS min_date,
           max(ts)                     AS max_date,
           round(avg(value), 2)        AS mean_value
    FROM events
    """,
)
def q_eda_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-eda-report (main.py:242-249): the reference's 5-pass profile as ONE
    aggregation pass."""
    return agg.eda_profile(
        _t(spark, sf_dir, "events"),
        count_distinct_col="event_type", date_col="ts", mean_col="value",
    )


# =====================================================================
# §2.1/§2.2 scans, projections, casts
# =====================================================================

@query(
    "op-parquet-scan",
    oracle="""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem WHERE l_quantity > 45
    """,
)
def q_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-parquet-scan (main.py:198) with Catalyst projection + predicate
    pushdown: the physical scan reads ONLY (l_orderkey, l_extendedprice,
    l_quantity) and ships the quantity filter into the parquet reader
    (verify: .explain shows PushedFilters + 3-column ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_extendedprice")


@query(
    "op-union-all",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-union-all (main.py:114-120 list-extend): bag-semantics union."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_totalprice") > 100000).select("o_orderkey", "o_totalprice")
    return a.unionByName(b)


@query(
    "op-project-envelope",
    oracle="SELECT doc_id, source FROM documents",
)
def q_project_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-project-envelope (main.py:75,119-120): the API's ``{results: [...]}``
    envelope round-trip — pack documents into per-source envelopes (struct with
    a results array), then recover rows via explode(results). Exercises the
    envelope projection the bronze stage applies to raw pages."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    envelopes = docs.groupBy("source").agg(
        F.collect_list(F.struct("doc_id")).alias("results")
    )
    return envelopes.select(
        F.explode("results").alias("r"), "source"
    ).select(F.col("r.doc_id").alias("doc_id"), "source")


@query(
    "op-cast-int",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS INT)  AS ano,
           CAST(month(ts) AS INT) AS mes
    FROM events
    """,
)
def q_cast_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-cast-int (main.py:143-144): partition-key int casts."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.year("ts").alias("ano"), F.month("ts").alias("mes")
    )
    return cleaning.cast_int(ev, ["ano", "mes"])


@query(
    "op-cast-nullable-int",
    oracle="""
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k_int,
           TRY_CAST(event_type AS INT)                                AS bad_int
    FROM events
    """,
)
def q_cast_nullable_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-cast-nullable-int (main.py:229-231): coercing cast, null on failure.
    ``bad_int`` is always-unparseable text → all null (coerce path);
    ``k_int`` parses the numeric prop out of the JSON props string."""
    from .session import fan_out

    # fan_out: events.parquet is one scan partition at small SF — the regexp
    # would serialize on one core (no-op at real scale; see session.fan_out).
    ev = fan_out(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("k_int"),
        F.col("event_type").alias("bad_int"),
    )
    return cleaning.cast_nullable_int(ev, ["k_int", "bad_int"])


@query(
    "op-numeric-coerce-fillna",
    oracle="""
    SELECT event_id,
           COALESCE(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE), 0.0) AS k_val,
           COALESCE(TRY_CAST(event_type AS DOUBLE), 0.0)                                AS coerced_zero
    FROM events
    """,
)
def q_numeric_coerce_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-numeric-coerce-fillna (main.py:212-213): to_numeric(coerce).fillna(0)."""
    from .session import fan_out

    ev = fan_out(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("k_val"),
        F.col("event_type").alias("coerced_zero"),
    )
    ev = cleaning.numeric_coerce_fillna(ev, "k_val")
    return cleaning.numeric_coerce_fillna(ev, "coerced_zero")


@query(
    "op-date-parse",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS order_date,
           TRY_CAST(o_orderpriority AS DATE)                   AS bad_date
    FROM orders
    """,
)
def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-date-parse (main.py:252-253): coercing 'yyyy-MM-dd' parse; the
    unparseable column comes back all-null (pandas errors='coerce')."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_orderpriority").alias("bad_date"),
    )
    return cleaning.parse_date(o, ["order_date", "bad_date"])


@query(
    "op-upper-trim",
    oracle="""
    SELECT c_custkey,
           upper(trim(c_name))       AS nome,
           upper(trim(c_mktsegment)) AS segmento
    FROM customer
    """,
)
def q_upper_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-upper-trim (main.py:216-226): null-preserving standardization."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_name").alias("nome"), F.col("c_mktsegment").alias("segmento")
    )
    return cleaning.upper_trim(c, ["nome", "segmento"])


# =====================================================================
# §2.1 source round-trips (scan + sink ops, end-to-end through disk)
# =====================================================================

_SCRATCH = "/root/repo/.scratch"


def _hive_scratch(sf_dir: str) -> str:
    """Scratch path for the shared orders hive layout, KEYED BY INPUT: the
    scan-side query reuses the sink's materialization via an exists-check,
    and an unkeyed path silently served a stale layout written at a
    DIFFERENT scale factor (caught by the sf1 spot-check: 23022 rows read
    against an oracle expecting 230220). A cache without the input
    identity in its key is wrong at any scale.

    The key is basename + a short hash of (absolute path, source orders
    parquet mtime+size): two different directories sharing a basename
    (e.g. a custom GEN_DST also named sf0.1) get distinct scratch dirs,
    and regenerating the SAME path in place rotates the key too."""
    import hashlib

    src = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(src)
        ident = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        ident = os.path.abspath(sf_dir)
    tag = hashlib.sha256(ident.encode()).hexdigest()[:10]
    return os.path.join(
        _SCRATCH,
        f"orders_hive_{os.path.basename(sf_dir.rstrip('/'))}_{tag}",
    )


_HIVE_LAYOUT_LOCK = __import__("threading").Lock()


def _unique_view(df: DataFrame, base: str) -> str:
    """Register ``df`` under a per-call UNIQUE temp-view name and return
    the name (caller drops it when done). SQL-surface queries used to
    register the lake-table names themselves ("customer", "lineitem",
    "nation") and drop them after analysis — but two such queries running
    concurrently in one session race: A registers "customer", B drops it
    before A's spark.sql analyzes → TABLE_OR_VIEW_NOT_FOUND (r10 ADVICE;
    the query-service shape). A unique name per call has no cross-query
    aliasing, so registration and drop are both race-free; the canonical
    SQL text keeps the lake-table name for the DuckDB oracle and the
    Spark run substitutes the unique name via a word-boundary sub."""
    import uuid as _uuid

    name = f"{base}_{_uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(name)
    return name


def _sweep_stale_siblings(base_dir: str, prefix: str, ttl_s: int = 1800) -> None:
    """Delete per-run scratch dirs older than ``ttl_s`` (r10 ADVICE: the
    per-run uuid dirs that made concurrent runs safe also made disk growth
    unbounded in a long-lived session — one orders_sink_* / compact dir
    leaked per run). Sweeping at query start with a TTL is safe: the only
    reader of a per-run dir is the frame returned by that same run, and no
    caller holds an undrained lazy frame for 30 minutes. Errors are
    ignored — a racing sweep or an already-gone dir is fine."""
    import shutil as _shutil
    import time as _time

    try:
        names = os.listdir(base_dir)
    except OSError:
        return
    cutoff = _time.time() - ttl_s
    for name in names:
        if not name.startswith(prefix):
            continue
        p = os.path.join(base_dir, name)
        try:
            if os.path.getmtime(p) < cutoff:
                _shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _ensure_hive_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build the shared keyed orders hive fixture exactly once, safely
    under concurrency (r10 sweep): the old exists-check + in-place write
    let a racing builder overwrite a directory another thread was
    reading (dynamic partition overwrite is not atomic), and a crashed
    half-write passed the bare exists-check forever after. Now: build
    into a per-attempt temp sibling, then atomically os.rename into the
    keyed path — a loser's rename fails (dest exists) and its temp is
    discarded; completeness is signalled by an EXPLICITLY written
    _SUCCESS sentinel, checked under a module lock so in-process threads
    serialize on the first build. The sentinel must be written by hand:
    dynamic partition overwrite's commit protocol does NOT leave a
    top-level _SUCCESS (r10 ADVICE — relying on Spark's marker made the
    exists-check always false, so every call rebuilt and rmtree'd a
    directory a concurrent reader could be scanning). It goes into the
    temp sibling BEFORE the rename, so the keyed path is born complete.
    Once present the fixture is immutable (the key rotates with the
    source's mtime/size), so readers never see a rewrite."""
    import shutil as _shutil
    import uuid as _uuid

    from .sources import parquet_source

    out = _hive_scratch(sf_dir)
    with _HIVE_LAYOUT_LOCK:
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return out
        if os.path.exists(out):  # stale half-write from a crashed run
            _shutil.rmtree(out, ignore_errors=True)
        tmp = f"{out}.build_{_uuid.uuid4().hex[:8]}"
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice",
            F.year("o_orderdate").alias("ano"),
            F.month("o_orderdate").alias("mes"),
        )
        parquet_source.write_partitioned(o, tmp, partition_cols=["ano", "mes"])
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            _shutil.rmtree(tmp, ignore_errors=True)  # another process won
    return out


@query(
    "op-json-scan",
    oracle="SELECT doc_id, lang, source FROM documents",
)
def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-json-scan (main.py:109-124): dual-envelope JSON scan, end-to-end —
    documents are written out as raw page files in BOTH shapes the reference's
    checkout contains (bare array + {results} envelope, SURVEY §1.3) plus one
    corrupt file, then recovered through the permissive distributed scan.

    The fixture write is DISTRIBUTED (r10 VERDICT task 6): rows hash into
    ~50k-row pages, each page is serialized to one JSON document by
    to_json over a per-page collect_list (bounded by the page cap, never
    the table), and partitionBy lands exactly one page per file — the
    old driver collect + json.dump serialized the whole table through
    the driver, the bottleneck this harness exists to avoid. Even pages
    take the bare-array shape, odd pages the envelope (n_pages >= 2
    keeps both shapes present); the one corrupt file is a constant line
    written into its own partition dir."""
    import shutil

    from pyspark.sql import types as T

    from .sources import json_source

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = os.path.join(_SCRATCH, "json_scan_pages")
    shutil.rmtree(out, ignore_errors=True)
    n_docs = docs.count()
    n_pages = max(2, -(-n_docs // 50_000))
    rows = F.col("rows")
    payload = (
        docs.withColumn(
            "__page",
            F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_pages)),
        )
        .groupBy("__page")
        .agg(F.collect_list(F.struct("doc_id", "lang", "source")).alias("rows"))
        .select(
            "__page",
            F.when(F.col("__page") % 2 == 0, F.to_json(rows))
            .otherwise(
                F.to_json(
                    F.struct(
                        F.size(rows).alias("count"),
                        F.lit(None).cast("string").alias("next"),
                        F.lit(None).cast("string").alias("previous"),
                        rows.alias("results"),
                    ),
                    # keep the explicit "next": null / "previous": null the
                    # reference's envelope carries (to_json drops null
                    # fields by default)
                    {"ignoreNullFields": "false"},
                )
            )
            .alias("value"),
        )
    )
    payload.write.partitionBy("__page").mode("overwrite").text(out)
    corrupt_dir = os.path.join(out, f"__page={n_pages}")
    os.makedirs(corrupt_dir, exist_ok=True)
    with open(os.path.join(corrupt_dir, "page_corrupt.json"), "w") as f:
        f.write("{corrupt!!")  # isolated, not fatal
    record = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    return json_source.scan_json_pages(spark, out, record)


@query(
    "op-parquet-partitioned-sink",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)  AS ano,
           CAST(month(o_orderdate) AS INT) AS mes,
           count(*)                        AS n,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
    FROM orders GROUP BY 1, 2
    """,
)
def q_parquet_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-parquet-partitioned-sink + op-parquet-scan-hive (main.py:152-157,
    283-286): write orders hive-partitioned by ano/mes (snappy, dynamic
    overwrite), then partition-discover it back and aggregate — values must
    survive the round trip exactly.

    The write goes to a PER-RUN directory (r10 concurrency sweep): this
    op's job is to exercise the sink every run, and rewriting a shared
    path races a concurrent op-parquet-scan-hive reading it (overwrite
    is not atomic). The shared keyed fixture the scan query reads is
    built once, locked and sentinel-gated, by _ensure_hive_layout."""
    import uuid as _uuid

    from .sources import parquet_source

    _sweep_stale_siblings(_SCRATCH, "orders_sink_")
    out = os.path.join(_SCRATCH, f"orders_sink_{_uuid.uuid4().hex[:10]}")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.year("o_orderdate").alias("ano"), F.month("o_orderdate").alias("mes"),
    )
    parquet_source.write_partitioned(o, out, partition_cols=["ano", "mes"])
    # declared-schema read-back: a zero-row write leaves no data files,
    # so an inference read would raise UNABLE_TO_INFER_SCHEMA (the empty
    # backfill window — r10 all-empty fuzz finding)
    back = parquet_source.scan_parquet(spark, out, schema=o.schema)
    return (
        back.groupBy(F.col("ano").cast("int").alias("ano"),
                     F.col("mes").cast("int").alias("mes"))
        # exact-integer-cents sum: order-independent (see op-rollup)
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              / 100.0).alias("total"))
    )


@query(
    "op-parquet-scan-hive",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS ano, count(*) AS n
    FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
    """,
)
def q_parquet_scan_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-parquet-scan-hive with PARTITION PRUNING: filter on the partition
    key hits directory pruning, not data reads (the 100 TB reason for the
    ano/mes layout). Reads the shared keyed hive fixture, built once by
    _ensure_hive_layout (locked + _SUCCESS-gated, write-then-rename)."""
    from .sources import parquet_source

    out = _ensure_hive_layout(spark, sf_dir)
    back = parquet_source.scan_parquet(
        spark, out,
        schema="o_orderkey BIGINT, o_totalprice DOUBLE, ano INT, mes INT",
    )
    return (
        back.filter(F.col("ano") == 1997)
        .groupBy(F.col("ano").cast("int").alias("ano"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "op-json-file-sink",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY 1
    """,
)
def q_json_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-json-file-sink (main.py:82-86): distributed JSON write of the
    events table, read back and aggregated — content parity through the
    sink/scan cycle."""
    import shutil

    from .sources import json_source

    out = os.path.join(_SCRATCH, "events_json")
    shutil.rmtree(out, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    json_source.write_json_pages(ev, out)
    back = spark.read.schema("event_id long, event_type string, value double").json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


# =====================================================================
# §2.5 data quality — one-pass conditional aggregation
# =====================================================================

@query(
    "op-dq-suite",
    oracle="""
    -- CASTs: DuckDB types SUM(int) as HUGEINT -> float64 in pandas, which
    -- hash-mismatches Spark's bigint counts
    SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)                      AS null_o_custkey,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)                    AS null_o_orderdate,
           CAST(SUM(CASE WHEN NOT (month(o_orderdate) BETWEEN 1 AND 12) THEN 1 ELSE 0 END) AS BIGINT) AS range_mes,
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)                       AS negative_o_totalprice
    FROM orders
    """,
)
def q_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 complete suite (main.py:167-186) as ONE conditional-agg pass:
    not-null, range, non-negative — violation counts per check."""
    o = _t(spark, sf_dir, "orders").withColumn("mes", F.month("o_orderdate"))
    suite = DQSuite(
        required_columns=["o_custkey", "o_orderdate", "o_totalprice"],
        checks=[
            not_null_check("o_custkey"),
            not_null_check("o_orderdate"),
            range_check("mes", 1, 12),
            non_negative_check("o_totalprice"),
        ],
    )
    return suite.violations_df(o)


@query(
    "op-dq-not-null",
    oracle="""
    SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_l_orderkey,
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_l_shipdate
    FROM lineitem
    """,
)
def q_dq_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-dq-not-null (main.py:178)."""
    li = _t(spark, sf_dir, "lineitem")
    suite = DQSuite(checks=[not_null_check("l_orderkey"), not_null_check("l_shipdate")])
    return suite.violations_df(li)


@query(
    "op-dq-range",
    oracle="""
    SELECT CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS range_l_discount
    FROM lineitem
    """,
)
def q_dq_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-dq-range (main.py:181)."""
    li = _t(spark, sf_dir, "lineitem")
    suite = DQSuite(checks=[range_check("l_discount", 0.0, 0.1)])
    return suite.violations_df(li)


@query(
    "op-dq-non-negative",
    oracle="""
    SELECT CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_l_extendedprice,
           CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT)      AS negative_l_quantity
    FROM lineitem
    """,
)
def q_dq_non_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-dq-non-negative (main.py:184)."""
    li = _t(spark, sf_dir, "lineitem")
    suite = DQSuite(
        checks=[non_negative_check("l_extendedprice"), non_negative_check("l_quantity")]
    )
    return suite.violations_df(li)


@query(
    "op-empty-guard",
    oracle="""
    SELECT CAST(CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity < 0) = 0
                THEN 1 ELSE 0 END AS INT) AS input_is_empty
    """,
)
def q_empty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-empty-guard (main.py:110-112, 203-205): O(1) empty-input detection
    (isEmpty scans at most one partition's first row, not a full count)."""
    from .operators.cleaning import is_empty

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 0)
    return spark.range(1).select(
        F.lit(int(is_empty(li))).cast("int").alias("input_is_empty")
    )


@query(
    "op-dq-col-exists",
    oracle="SELECT CAST(1 AS INT) AS has_required_cols",
)
def q_dq_col_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-dq-col-exists (main.py:175-177, 295-298): metadata-only schema check,
    surfaced as a 1-row result so the harness can verify it."""
    li = _t(spark, sf_dir, "lineitem")
    cleaning.require_columns(li, ["l_orderkey", "l_quantity", "l_shipdate"])
    return spark.range(1).select(F.lit(1).cast("int").alias("has_required_cols"))


# =====================================================================
# Scalar-function surface breadth (SURVEY §2.8 + the Spark built-ins a
# reference user gets for free through the passthrough surface)
# =====================================================================

@query(
    "op-string-funcs",
    oracle="""
    SELECT p_partkey,
           upper(substring(p_name, 1, 8)) AS head8,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS has_green,
           length(replace(p_name, ' ', '')) AS n_nonspace
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: substring/lpad/concat_ws/LIKE/replace/length
    — all JVM-side expressions in one projection (no UDF, one codegen stage)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("head8"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.when(F.col("p_name").like("%green%"), 1).otherwise(0).alias("has_green"),
        F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))).alias("n_nonspace"),
    )


@query(
    "op-date-funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_95
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: trunc/last_day/quarter/datediff — the temporal
    vocabulary the reference's ano/mes partitioning implies, all codegen."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
        F.datediff(F.col("o_orderdate"), F.to_timestamp(F.lit("1995-01-01"))).alias("days_since_epoch_95"),
    )


@query(
    "op-conditional-funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid' ELSE 'small' END AS bucket,
           round(least(l_extendedprice, 20000.0), 2) AS capped,
           round(greatest(l_discount, l_tax), 2) AS max_rate,
           CAST(nullif(l_linenumber, 1) AS INT) AS ln_or_null
    FROM lineitem
    """,
)
def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional surface: CASE/least/greatest/nullif in one projection."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") >= 40, "bulk")
         .when(F.col("l_quantity") >= 10, "mid")
         .otherwise("small").alias("bucket"),
        F.round(F.least("l_extendedprice", F.lit(20000.0)), 2).alias("capped"),
        F.round(F.greatest("l_discount", "l_tax"), 2).alias("max_rate"),
        F.nullif(F.col("l_linenumber"), F.lit(1)).cast("int").alias("ln_or_null"),
    )


@query(
    "op-json-funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (semi-structured props) —
    get_json_object stays JVM-side; from_json with an explicit schema is the
    bulk path (one parse, typed struct) used for the int twin."""
    from .session import fan_out

    ev = fan_out(_t(spark, sf_dir, "events"))
    parsed = ev.withColumn("j", F.from_json("props", "k int"))
    return parsed.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.col("j.k").alias("k_int"),
    )
