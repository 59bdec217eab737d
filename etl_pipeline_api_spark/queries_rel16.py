"""Relational batch 16 — versioned-table mechanics (SURVEY.md §2.9).

The reference overwrites its medallion parquet layers in place
(/root/reference/proj-eng-dados/main.py:152-157, 259-264, 314-319):
no isolation from concurrent readers, no history. These queries drive
sources/versioned_table.py — a miniature manifest-based table format
(atomic rename commits, append = manifest union, time travel,
rollback) — through the incremental-load story the reference runs
every month.

- op-table-versioned: commit half the orders, APPEND the other half,
  read latest — must equal the plain full table (append never rewrote
  the first half; the oracle is the full-table projection).
- op-time-travel-diff: diff version 1 → latest with dq.table_diff's
  CDC summary — exactly the second half appears as `added`.

Both DuckDB-oracle-gated: the halves split on ``o_orderkey % 2``, so
the oracle reproduces each version's content with plain SQL.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, query
from .sources.versioned_table import VersionedTable


def _two_version_table(spark: SparkSession, sf_dir: str) -> VersionedTable:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    vt = VersionedTable(tempfile.mkdtemp(prefix="vtable_"))
    vt.commit(orders.where(F.col("o_orderkey") % 2 == 0), mode="overwrite")
    vt.commit(orders.where(F.col("o_orderkey") % 2 == 1), mode="append")
    return vt


@query(
    "op-table-versioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def q_table_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-table-versioned: overwrite-commit the even-key orders, then
    APPEND the odd-key half (manifest union — the first half's files
    are not rewritten); the latest read must equal the plain full
    table (sources/versioned_table.py)."""
    return _two_version_table(spark, sf_dir).read(spark)


@query(
    "op-time-travel-diff",
    oracle="""
    SELECT CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS added,
           CAST(0 AS BIGINT) AS removed,
           CAST(0 AS BIGINT) AS changed,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS unchanged
    FROM orders
    """,
)
def q_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-time-travel-diff: time-travel read of version 1 diffed against
    the latest via dq.table_diff — the append half shows as `added`,
    nothing removed or changed; the audit query a versioned table
    exists to answer (sources/versioned_table.py read(version=...))."""
    from .operators.dq import table_diff

    vt = _two_version_table(spark, sf_dir)
    old = vt.read(spark, version=1)
    new = vt.read(spark)
    d = table_diff(old, new, ["o_orderkey"], ["o_custkey", "o_totalprice"])
    return d.groupBy().agg(
        F.sum((F.col("status") == "added").cast("bigint")).alias("added"),
        F.sum((F.col("status") == "removed").cast("bigint")).alias("removed"),
        F.sum((F.col("status") == "changed").cast("bigint")).alias("changed"),
        F.sum((F.col("status") == "unchanged").cast("bigint")).alias(
            "unchanged"
        ),
    )


@query(
    "op-stream-versioned-sink",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value FROM events
    """,
)
def q_stream_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-stream-versioned-sink: the events stream landed into the
    versioned table EXACTLY-ONCE — events split into 8 files, each
    micro-batch commit_keyed(batch_id) appends one manifest entry
    (a replay would REPLACE its own attempt, not double-append; the
    interleaving is unit-pinned in tests/test_versioned_table.py).
    The final table read must equal the full static table
    (sources/versioned_table.py KeyedVersionedTable)."""
    from .streaming import events as sev
    from .sources.versioned_table import KeyedVersionedTable

    src = tempfile.mkdtemp(prefix="vsink_src_")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    ev.repartition(8).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    vt = KeyedVersionedTable(tempfile.mkdtemp(prefix="vsink_"))

    def land(df: DataFrame, batch_id: int) -> None:
        vt.commit_keyed(df, key=batch_id)

    import os as _os
    import uuid as _uuid

    ckpt = _os.path.join(
        tempfile.gettempdir(), f"ckpt_vsink_{_uuid.uuid4().hex[:10]}"
    )
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return vt.read(spark)


@query(
    "op-table-merge",
    oracle="""
    WITH delta AS (
        SELECT c_custkey, 'UPDATED_' || CAST(c_custkey AS VARCHAR) AS c_name,
               round(c_acctbal + 100, 2) AS c_acctbal
        FROM customer WHERE c_custkey % 100 < 10
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW_' || CAST(c_custkey AS VARCHAR),
               0.0
        FROM customer WHERE c_custkey % 100 = 50
    )
    SELECT coalesce(d.c_custkey, t.c_custkey) AS c_custkey,
           coalesce(d.c_name, t.c_name) AS c_name,
           round(coalesce(d.c_acctbal, t.c_acctbal), 2) AS c_acctbal
    FROM customer t FULL OUTER JOIN delta d USING (c_custkey)
    """,
)
def q_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-table-merge: MERGE INTO the versioned table — op-upsert's
    full-outer coalesce row plan landed as a new overwrite commit, so
    the pre-merge snapshot remains readable at version 1 (asserted
    in-plan: this query returns the POST-merge latest read)
    (sources/versioned_table.py merge_into)."""
    from .sources.versioned_table import VersionedTable, merge_into

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    vt = VersionedTable(tempfile.mkdtemp(prefix="vmerge_"))
    vt.commit(cust, mode="overwrite")
    updates = cust.filter(F.col("c_custkey") % 100 < 10).select(
        "c_custkey",
        F.concat(
            F.lit("UPDATED_"), F.col("c_custkey").cast("string")
        ).alias("c_name"),
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 50).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(
            F.lit("NEW_"), F.col("c_custkey").cast("string")
        ).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    merge_into(vt, spark, updates.unionByName(inserts), ["c_custkey"])
    return vt.read(spark).select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )


@query(
    "op-stream-cdc-apply",
    oracle="""
    WITH log AS (
      SELECT o_custkey,
             epoch_us(o_orderdate) AS v0, o_orderkey AS v1,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice
      FROM orders),
    last AS (
      SELECT * FROM log
      QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY v0 DESC, v1 DESC) = 1)
    SELECT o_custkey, o_totalprice
    FROM last WHERE op != 'D'
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-stream-cdc-apply: the orders changelog STREAMED (8 files, one
    per micro-batch) into a continuously-maintained current snapshot —
    latest-version-wins with tombstones surviving between batches so an
    older update can never resurrect a deleted key; final state must
    equal the one-shot changelog_compact (= op-changelog-compact's
    oracle) (streaming/events.py run_incremental_compact)."""
    from .streaming import events as sev

    log = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("v0"),
        F.col("o_orderkey").alias("v1"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "o_totalprice",
    )
    src = tempfile.mkdtemp(prefix="cdc_src_")
    log.repartition(8).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return sev.run_incremental_compact(
        stream, ["o_custkey"], ["v0", "v1"], "op", ["o_totalprice"]
    )


@query(
    "op-graph-bfs",
    oracle="""
    WITH RECURSIVE
    bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    edges AS (
      SELECT x.i AS a, y.i AS c
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
    dirs AS (SELECT a AS src, c AS dst FROM edges
             UNION ALL SELECT c, a FROM edges),
    s AS (SELECT min(a) AS s FROM edges),
    walk(node, d) AS (
      -- s IS NOT NULL: on an EMPTY graph min() yields a NULL seed, which
      -- would walk as a phantom node at dist 0 (r10 all-empty fuzz); the
      -- engine's seed frame filters NULL in-plan the same way
      SELECT s, 0 FROM s WHERE s IS NOT NULL
      UNION
      SELECT dirs.dst, walk.d + 1
      FROM walk JOIN dirs ON dirs.src = walk.node
      WHERE walk.d < 3)
    SELECT CAST(d AS INT) AS dist, count(*) AS n_nodes
    FROM (SELECT node, min(d) AS d FROM walk GROUP BY 1)
    GROUP BY 1
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-graph-bfs: breadth-first distances (≤3 hops) from the smallest
    node of the co-purchase graph, summarized as nodes-per-level —
    frontier-expansion joins with visited anti-join (work is
    O(frontier-touching edges) per round, lineage checkpointed); the
    oracle walks the same graph with a bounded recursive CTE
    (operators/graph.py bfs_distances). The source pick stays IN-PLAN
    (a 1-row min aggregate seed frame), so the whole query is one
    action and the basket join materializes exactly once — an empty
    graph flows through as an empty seed, no driver-side guard."""
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.basket_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).localCheckpoint(eager=False)
    seed = edges.agg(F.min("a").alias("node")).where(F.col("node").isNotNull())
    dists = graph.bfs_distances(edges, source=seed, max_depth=3)
    return dists.groupBy(F.col("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@query(
    "op-degree-stats",
    oracle="""
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    edges AS (
      SELECT x.i AS a, y.i AS c
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM edges UNION ALL SELECT c FROM edges)
      GROUP BY 1)
    SELECT count(*) AS n_nodes,
           CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
           max(deg) AS max_degree,
           round(avg(deg), 4) AS avg_degree,
           round(1.0 + count(*) / sum(ln(deg / 0.5)), 4) AS alpha_mle
    FROM deg
    """,
)
def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-degree-stats: degree distribution summary + discrete
    power-law exponent MLE (Clauset-Shalizi-Newman eq. 3.7, dmin=1) of
    the co-purchase graph — one degree agg, one global agg
    (operators/graph.py degree_stats)."""
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.basket_edges(li, "l_orderkey", "l_partkey", min_support=2)
    return graph.degree_stats(edges)


_LPA_ROUND = """
    l{n} AS (
      SELECT src AS node, label FROM (
        SELECT d.src AS src, l.label AS label,
               row_number() OVER (
                 PARTITION BY d.src
                 ORDER BY count(*) DESC, l.label ASC) AS rn
        FROM dir d JOIN l{p} l ON l.node = d.dst
        GROUP BY d.src, l.label) t
      WHERE rn = 1)"""

_LPA_ORACLE = (
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    edges AS (
      SELECT x.i AS a, y.i AS c
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
    dir AS (SELECT a AS src, c AS dst FROM edges
            UNION ALL SELECT c, a FROM edges),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir),"""
    + ",".join(_LPA_ROUND.format(n=i, p=i - 1) for i in range(1, 6))
    + """
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l5 GROUP BY 1
    ORDER BY n_nodes DESC, community ASC LIMIT 20
    """
)


@query("op-lpa-communities", oracle=_LPA_ORACLE)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-lpa-communities: deterministic synchronous label propagation
    over the co-purchase graph (plurality vote, ties to the smallest
    label) — community sizes as the output frame; unit tests pin the
    two-cliques-and-a-bridge separation (operators/graph.py
    lpa_communities).

    Was rows-only through r6; the determinism of the synchronous
    plurality/min-label rule makes the op SQL-expressible after all —
    the oracle unrolls the 5 rounds as chained CTEs (row_number over
    votes DESC, label ASC == the Spark struct-argmax), the same shape
    as op-ppr-recommend's unrolled-power-iteration oracle."""
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.basket_edges(li, "l_orderkey", "l_partkey", min_support=2)
    comm = graph.lpa_communities(edges, iters=5)
    return (
        comm.groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), F.col("community"))
        .limit(20)
    )


# op-ppr-recommend's unrolled power iteration, one TEMP TABLE per round
# (r10 VERDICT task 4): the pure-CTE form re-EXPANDS each round's
# definition inside the next (DuckDB inlines non-materialized CTEs), so
# round 3 carried the whole graph pipeline three times over — at sf1 the
# unrolled plan exhausted temp disk and the query was the sweep's one
# "documented infeasible" oracle. Materializing r0..r3 makes each round
# read the PREVIOUS round's ~|V|-row table once, exactly like the Spark
# side's per-round localCheckpoint. Same arithmetic, same literals, same
# final SELECT — only the evaluation strategy changes. Multi-statement
# oracles are supported: duckdb's con.sql() executes all statements and
# returns the last relation; CREATE OR REPLACE keeps re-runs on a shared
# connection idempotent, and the __ppr_ prefix keeps the temp names out
# of every other oracle's way.
_PPR_ROUND = """
    CREATE OR REPLACE TEMP TABLE __ppr_r{n} AS
      SELECT nd.node,
             0.15 * (CASE WHEN nd.node = (SELECT sn FROM __ppr_s)
                          THEN 1.0 ELSE 0.0 END)
             + 0.85 * coalesce(sum(r.rank / deg.deg), 0) AS rank
      FROM (SELECT node FROM __ppr_r0) nd
      LEFT JOIN __ppr_dir dir ON dir.dst = nd.node
      LEFT JOIN __ppr_deg deg ON deg.src = dir.src
      LEFT JOIN __ppr_r{p} r  ON r.node = dir.src
      GROUP BY 1;"""

_PPR_ORACLE = (
    """
    CREATE OR REPLACE TEMP TABLE __ppr_bi AS
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem;
    CREATE OR REPLACE TEMP TABLE __ppr_edges AS
      SELECT x.i AS a, y.i AS c
      FROM __ppr_bi x JOIN __ppr_bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2;
    CREATE OR REPLACE TEMP TABLE __ppr_dir AS
      SELECT a AS src, c AS dst FROM __ppr_edges
      UNION ALL SELECT c, a FROM __ppr_edges;
    CREATE OR REPLACE TEMP TABLE __ppr_deg AS
      SELECT src, count(*) AS deg FROM __ppr_dir GROUP BY 1;
    CREATE OR REPLACE TEMP TABLE __ppr_s AS
      SELECT src AS sn FROM __ppr_deg ORDER BY deg DESC, src ASC LIMIT 1;
    CREATE OR REPLACE TEMP TABLE __ppr_r0 AS
      SELECT src AS node,
             CASE WHEN src = (SELECT sn FROM __ppr_s)
                  THEN 1.0 ELSE 0.0 END AS rank
      FROM __ppr_deg;"""
    + "".join(_PPR_ROUND.format(n=i, p=i - 1) for i in range(1, 4))
    + """
    SELECT node, round(rank, 6) AS score, CAST(rn AS INT) AS rnk
    FROM (
      SELECT __ppr_r3.*, row_number() OVER (ORDER BY rank DESC, node ASC) AS rn
      FROM __ppr_r3 WHERE node != (SELECT sn FROM __ppr_s))
    WHERE rn <= 10
    """
)


@query("op-ppr-recommend", oracle=_PPR_ORACLE)
def q_ppr_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-ppr-recommend: "items related to X" — personalized PageRank
    (3 iterations, restart mass on the highest-degree part) over the
    co-purchase graph, top-10 excluding the source; same
    edge-partitioned round shape as op-pagerank with a concentrated
    teleport (operators/graph.py personalized_pagerank)."""
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.basket_edges(li, "l_orderkey", "l_partkey", min_support=2)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    top = deg.orderBy(F.col("d").desc(), F.col("n").asc()).limit(1).collect()
    if not top:
        return spark.createDataFrame([], "node long, score double, rnk int")
    return graph.personalized_pagerank(
        edges, source=int(top[0]["n"]), iters=3, k=10
    )


@query(
    "op-ppr-mass-gate",
    oracle="""
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    edges AS (
      SELECT x.i AS a, y.i AS c
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2 HAVING count(*) >= 2),
    dir AS (SELECT a AS src, c AS dst FROM edges
            UNION ALL SELECT c, a FROM edges),
    deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg)
    SELECT TRUE AS mass_ok, TRUE AS source_mass_ok,
           TRUE AS topk_excludes_source,
           CAST(least(10, n - 1) AS BIGINT) AS k_rows
    FROM nn WHERE n > 0
    """,
)
def q_ppr_mass_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-ppr-recommend's STRUCTURAL companion (the e62b578 kmeans/
    semdedup template): op-ppr-recommend's own unrolled-3-round-CTE
    oracle is exact but quadratic-ish in DuckDB temp space and
    infeasible at sf1 (SF1CHECK_r7), so this query pins the power
    iteration's INVARIANTS with a LINEAR oracle that runs at any SF:

    - mass_ok: total rank mass = 1 ± 1e-6. Each PPR round maps
      Σrank → (1−d) + d·Σrank because every node's contributions are
      split 1/deg over exactly deg out-edges (the symmetrized graph has
      no dangling nodes); a broken teleport, degree normalization, or
      lost/duplicated contribution shifts total mass by O(0.1).
    - source_mass_ok: rank(source) ≥ (1−d) — the restart mass lower
      bound; from round 1 on the source always keeps its full teleport.
    - topk_excludes_source: the recommendation list never returns the
      query item itself.
    - k_rows: |top-k| = min(k, n_nodes − 1), pinned from the oracle's
      own node count.

    The rank vector itself stays exactly pinned by op-ppr-recommend's
    CTE oracle at the gate SFs; this gate extends coverage to scales
    where that oracle can't run. Localization on a barbell graph is
    unit-pinned in tests/test_stats_graph.py."""
    from .operators import graph

    li = _t(spark, sf_dir, "lineitem")
    edges = graph.basket_edges(li, "l_orderkey", "l_partkey", min_support=2)
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    top = deg.orderBy(F.col("d").desc(), F.col("n").asc()).limit(1).collect()
    if not top:
        return spark.createDataFrame(
            [],
            "mass_ok boolean, source_mass_ok boolean, "
            "topk_excludes_source boolean, k_rows bigint",
        )
    source = int(top[0]["n"])
    # one loop execution feeds every invariant below
    full = graph.personalized_pagerank(
        edges, source=source, iters=3, k=10, full_ranks=True
    ).localCheckpoint(eager=False)
    stats = full.agg(
        F.abs(F.sum("rank") - 1.0).alias("mass_err"),
        F.max(F.when(F.col("node") == source, F.col("rank"))).alias("src_rank"),
    )
    topk = (
        full.where(F.col("node") != source)
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(10)
    )
    tk = topk.agg(
        F.count(F.lit(1)).alias("k_rows"),
        F.count(F.when(F.col("node") == source, 1)).alias("n_src"),
    )
    return stats.crossJoin(F.broadcast(tk)).select(
        (F.col("mass_err") <= 1e-6).alias("mass_ok"),
        (F.col("src_rank") >= 0.15 - 1e-9).alias("source_mass_ok"),
        (F.col("n_src") == 0).alias("topk_excludes_source"),
        F.col("k_rows").cast("bigint").alias("k_rows"),
    )


@query(
    "op-join-advisor",
    oracle="""
    WITH l AS (
      SELECT sum(n) AS left_rows, count(*) AS left_keys,
             round(max(n) * 1.0 / avg(n), 2) AS left_skew
      FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)),
    r AS (
      SELECT sum(n) AS right_rows, count(*) AS right_keys,
             round(max(n) * 1.0 / avg(n), 2) AS right_skew
      FROM (SELECT c_custkey, count(*) AS n FROM customer GROUP BY 1))
    SELECT CAST(left_rows AS BIGINT) AS left_rows,
           CAST(right_rows AS BIGINT) AS right_rows,
           left_keys, right_keys, left_skew, right_skew,
           CASE WHEN least(left_rows, right_rows) <= 100000
                THEN 'broadcast'
                WHEN (CASE WHEN right_rows <= left_rows
                           THEN left_skew ELSE right_skew END) > 8.0
                THEN 'salted' ELSE 'shuffle' END AS strategy,
           CASE WHEN right_rows <= left_rows THEN 'right' ELSE 'left' END
             AS build_side
    FROM l, r
    """,
)
def q_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-join-advisor: the pre-flight join planner — row counts + key
    histograms on both sides feed the broadcast/salted/shuffle decision
    and the build side, all linear map-combined passes
    (operators/diagnostics.py join_advisor; here orders ⋈ customer on
    custkey, which lands on 'broadcast customer')."""
    from .operators.diagnostics import join_advisor

    return join_advisor(
        _t(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        ),
        _t(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        ),
        "custkey",
    )


@query(
    "op-lsh-tuning",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tokens
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(tokens)-2, 0)),
                    i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
               AS shingle
      FROM tok),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    exact AS (
      SELECT count(*) AS n_exact FROM inter
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5)
    SELECT band_rows, CAST(n_exact AS BIGINT) AS n_exact,
           true AS recall_floor_ok
    FROM exact, (VALUES (2), (4), (8)) t(band_rows)
    ORDER BY band_rows
    """,
)
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-lsh-tuning: the LSH recall dial MEASURED — MinHash candidate
    generation at band_rows ∈ {2, 4, 8} (wider bands = fewer, more
    precise candidates), each verified against the exact n-gram Jaccard
    pair set. The gate: per config, verified recall must clear the
    S-CURVE floor AT THE THRESHOLD — P(catch | J=0.5) = 1-(1-0.5^r)^b
    = 0.99 / 0.40 / 0.016 for r=2/4/8 — with margin below (0.9 / 0.3 /
    0.01). Recall can only exceed this worst case (the s-curve is
    monotone in J), so the floors hold on ANY corpus; an earlier floor
    set {1.0, 0.8, 0.4} encoded the gate corpora's high-similarity pair
    mass and failed on the sf1 replica where most pairs sit near the
    threshold (measured 0.994 / 0.492 / 0.054 there — all s-curve-
    consistent). Exact pair count stays hash-checked alongside
    (operators/dedup.py minhash_lsh_pairs + ngram_jaccard_pairs)."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    # shared signature frame: the 32-hash MinHash signature is a pure
    # function of the corpus, not of the banding — parse shingles and run
    # the K signature passes ONCE, band the result three ways (r8; the
    # per-config minhash_lsh_pairs calls re-did that work 3x). The EXACT
    # pair set now derives from the SAME checkpointed sets frame (r12
    # optimization round, guide §2.4): its hshs arrays are the exact
    # shingle sets, so the old separate ngram_jaccard_pairs call — a
    # second full tokenize+shingle corpus pass — is gone.
    sig_sets = dedup.minhash_signature_sets(
        docs, "doc_id", "text", n=3, num_hashes=32
    )
    # persist the exact pair set: it anchors FOUR actions (its count +
    # one semi-join per config) and would otherwise re-run the shingle
    # self-join each time; every action completes inside this function,
    # so the unpersist is safe
    exact = dedup.jaccard_pairs_from_sets(sig_sets, threshold=0.5).select(
        "id_a", "id_b"
    ).persist()
    try:
        # n_exact FIRST and alone: this one action materializes the
        # sig_sets checkpoint blocks and the persisted exact pairs the
        # three config probes then share.
        n_exact = exact.count()

        def probe(band_rows: int) -> tuple[int, int, bool]:
            found = (
                dedup.minhash_lsh_pairs_from_sets(
                    sig_sets, threshold=0.5,
                    num_hashes=32, band_rows=band_rows,
                )
                .select("id_a", "id_b")
                .join(exact, ["id_a", "id_b"])
                .count()
            )
            floor = 0.9 if band_rows == 2 else (0.3 if band_rows == 4 else 0.01)
            return (
                band_rows, n_exact,
                bool(n_exact == 0 or found >= floor * n_exact),
            )

        # The three per-config probes are INDEPENDENT counts over shared
        # MATERIALIZED inputs (sig_sets blocks + persisted exact pairs) —
        # run them from a small driver thread pool so each probe's stage
        # tail back-fills the others' idle cores (guide §2.6; the
        # op-corpus-curate-full branch pattern). Results are keyed by
        # band_rows, so completion order cannot reorder the output.
        with ThreadPoolExecutor(max_workers=3) as pool:
            rows = list(pool.map(probe, (2, 4, 8)))
    finally:
        exact.unpersist()
    return spark.createDataFrame(
        rows, "band_rows int, n_exact bigint, recall_floor_ok boolean"
    )


@query(
    "op-ivf-tuning",
    oracle="""
    WITH exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                 c.vec_id) <= 5)
    SELECT n_probe, (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           true AS recall_floor_ok, true AS monotone_ok
    FROM (VALUES (1), (2), (4), (8)) t(n_probe)
    ORDER BY n_probe
    """,
)
def q_ivf_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-ivf-tuning: the IVF n_probe dial MEASURED — recall of the
    probed search vs the exact top-5 universe at n_probe ∈ {1,2,4,8}
    (scan fraction n_probe/16 of the corpus per query). Gates: each
    config beats the RANDOM-SCAN baseline by >= 20% — a blind scan of
    n_probe/16 of the corpus expects recall n_probe/16, so the floor is
    1.2 * n_probe/16; clearing it proves the centroid index routes
    queries better than chance at every probe width (an earlier set of
    per-point empirical floors was sf0.01 corpus luck: n_probe=1
    measured 0.20 there and 0.15 at sf0.1 — both ~2.4x random, but only
    one side of the old 0.20 floor). Recall must also never DECREASE as
    probes widen — the property that makes n_probe a usable dial
    (queries_ext's op-sim-search-ivf pins one operating point; this
    sweeps the curve) (operators/similarity.py ivf_topk)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # persist the exact top-k universe: five actions hang off it (its
    # count + one semi-join per probe width); all complete in-function
    exact = similarity.cosine_topk(
        emb, queries, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id").persist()
    try:
        n_exact = exact.count()
        floors = {p: 1.2 * p / 16.0 for p in (1, 2, 4, 8)}
        hits = {}
        for n_probe in (1, 2, 4, 8):
            hits[n_probe] = (
                similarity.ivf_topk(
                    emb, queries, "vec_id", "embedding", k=5,
                    n_centroids=16, n_probe=n_probe,
                )
                .select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
    finally:
        exact.unpersist()
    rows = []
    probes = [1, 2, 4, 8]
    for i, p in enumerate(probes):
        monotone = all(
            hits[probes[j]] <= hits[probes[j + 1]]
            for j in range(len(probes) - 1)
        )
        rows.append(
            (
                p,
                n_exact,
                bool(n_exact == 0 or hits[p] >= floors[p] * n_exact),
                bool(monotone),
            )
        )
    return spark.createDataFrame(
        rows,
        "n_probe int, n_exact bigint, recall_floor_ok boolean, "
        "monotone_ok boolean",
    )


@query(
    "op-ivf-pairs",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_pairs, true AS subset_ok
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    AND substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1) <= '4'
    AND substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 1) <= '4'
    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4
    """,
)
def q_ivf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-ivf-pairs: IVF cell-blocked embedding pair finding
    (similarity.ivf_pairs) — the production pair path past sign-LSH's
    bucket-resolution ceiling (measured crossover: BENCH_SCALING.md;
    IVF faster at every corpus size at equal recall).

    Gate design (sound on ANY corpus, no fitted constants): on the same
    ~31% deterministic md5 corpus sample the embedding-LSH gate uses,
    (a) EXHAUSTIVE probes (n_probe = n_centroids puts every vector in
    every cell) make ivf_pairs EXACT by construction, so n_pairs is
    hash-pinned against DuckDB's quadratic join — this exercises the
    centroid sample, cell assignment, explode, and the group-restricted
    BLAS kernel end-to-end; (b) the production config (n_probe=2) must
    be a SUBSET of the exhaustive set — the precision contract
    (candidates are re-scored exactly, so false positives are
    impossible; a violation means the kernel or dedupe broke). Recall
    of the approx config is a measured dial (BENCH_SCALING.md,
    op-ivf-tuning's floors), not an invariant, so it is not gated
    here."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) <= "4"
    )
    full = similarity.ivf_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        n_centroids=8, n_probe=8,
    ).select("id_a", "id_b")
    approx = similarity.ivf_pairs(
        emb, "vec_id", "embedding", threshold=0.4,
        n_centroids=8, n_probe=2,
    ).select("id_a", "id_b")
    stray = approx.join(full, ["id_a", "id_b"], "left_anti")
    return full.agg(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        stray.agg((F.count(F.lit(1)) == 0).alias("subset_ok"))
    )


@query(
    "op-lsh-planes-tuning",
    oracle="""
    WITH exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 8
      QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                 c.vec_id) <= 5)
    SELECT band_width,
           (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           true AS recall_floor_ok, true AS narrower_not_worse
    FROM (VALUES (2), (3), (4)) t(band_width)
    ORDER BY band_width
    """,
)
def q_lsh_planes_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-lsh-planes-tuning: the sign-LSH band-WIDTH dial measured —
    12 hyperplanes split into bands of width 2/3/4 bits (6/4/3 bands),
    recall vs the exact top-5 universe. Gates: per-config floors from
    the 1−(1−p^w)^b curve at this corpus's neighbor angles, and the
    structural expectation that NARROWER bands never recall less
    (more, shorter bands ⇒ more candidate collisions). Completes the
    tuning-harness triple: MinHash bands (op-lsh-tuning), IVF probes
    (op-ivf-tuning), hyperplane width (operators/similarity.py
    lsh_topk)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(
        emb, queries, "vec_id", "embedding", k=5
    ).select("query_id", "neighbor_id")
    n_exact = exact.count()
    hits = {}
    for width in (2, 3, 4):
        hits[width] = (
            similarity.lsh_topk(
                emb, queries, "vec_id", "embedding", k=5,
                n_planes=12, n_bands=12 // width,
            )
            .select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .count()
        )
    floors = {2: 0.4, 3: 0.25, 4: 0.15}
    rows = []
    for width in (2, 3, 4):
        rows.append(
            (
                width,
                n_exact,
                bool(n_exact == 0 or hits[width] >= floors[width] * n_exact),
                bool(hits[2] >= hits[3] >= hits[4] or n_exact == 0),
            )
        )
    return spark.createDataFrame(
        rows,
        "band_width int, n_exact bigint, recall_floor_ok boolean, "
        "narrower_not_worse boolean",
    )
