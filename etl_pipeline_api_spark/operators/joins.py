"""Join strategies beyond the optimizer's defaults (scale toolkit).

The reference has no joins at all (SURVEY.md §2.7); Spark gives the engine
broadcast/shuffle-hash/sort-merge natively, and AQE rebalances skewed
shuffle joins at runtime. This module adds the one pattern that still needs
explicit code at 100 TB: SALTING, for when a handful of hot keys overwhelm
a single reducer even under AQE (e.g. the null-key/celebrity-key problem on
a fact-to-dim join whose dim side is too big to broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .behavioral import _micros


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: scatter each fact row into one of ``salt``
    sub-partitions of its key; replicate every dim row across all ``salt``
    sub-keys. The shuffle key becomes (key, salt) — a hot key's rows spread
    over ``salt`` reducers instead of one.

    Result is EXACTLY the plain ``facts.join(dim, key, how)`` (any salt
    assignment is correct — it only changes data placement), which is what
    the oracle checks. Cost: dim side is duplicated ``salt``× — use for
    mid-size dims that don't fit a broadcast but are far smaller than the
    fact table; for broadcast-able dims use broadcast, for mild skew let
    AQE's skew-join splitting handle it.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (dim-side fanout)")
    fact_salt = F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(salt))
    salted_f = facts.withColumn("__salt", fact_salt)
    salted_d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_f.join(salted_d, [key, "__salt"], how).drop("__salt")


def bucketed_table(
    df: DataFrame, name: str, key: str, buckets: int = 8
) -> DataFrame:
    """Materialize ``df`` as a bucketed + sorted catalog table.

    Two tables bucketed the SAME way on the join key equi-join with NO
    exchange and NO sort (the scan already satisfies the sort-merge
    requirement) — at 100 TB this converts the nightly fact-to-fact join
    from the cluster's biggest shuffle into a zero-movement merge. This is
    the pre-partitioning/co-location strategy the task brief calls out;
    on a lakehouse it maps onto metastore bucketing (or liquid clustering).
    """
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    # The session catalog is in-memory: a table directory left by a previous
    # process isn't registered here and would fail creation with
    # LOCATION_ALREADY_EXISTS — drop both the entry and the location.
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(name)
    )
    return spark.table(name)


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    key_col: str,
    ts_col: str,
    lookback_s: int = 300,
) -> DataFrame:
    """Range join: for every left row, count right rows with the same key in
    the open interval (t - lookback, t). Returns (id, n_prev) for all left
    rows (0 when none).

    Naive range joins are quadratic per key; this buckets time into
    lookback-sized cells so a left row in bucket b only meets right rows in
    buckets {b-1, b} — the equi-join on (key, bucket) carries the range
    predicate as a cheap post-filter. Right rows are emitted twice (their
    own bucket and the next), so the shuffle is 2×|right| rows — linear,
    never all-pairs. (The same count is expressible as a window frame
    ``rangeBetween`` when left==right; the bucket join generalizes to
    different relations, e.g. events vs. a promotions table.)
    """
    width = lookback_s * 1_000_000  # microseconds

    lt = left.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).alias("__k"),
        _micros(left, ts_col).alias("__t"),
    ).withColumn("__b", F.expr(f"__t div {width}"))  # integer div: exact bucketing
    rt = right.select(
        F.col(key_col).alias("__k"),
        _micros(right, ts_col).alias("__t2"),
    ).withColumn(
        "__b",
        F.explode(
            F.array(
                F.expr(f"__t2 div {width}"),
                F.expr(f"__t2 div {width}") + 1,
            )
        ),
    )
    hits = (
        lt.join(rt, ["__k", "__b"])
        .filter(
            (F.col("__t2") > F.col("__t") - width) & (F.col("__t2") < F.col("__t"))
        )
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_prev"))
    )
    return (
        lt.select("__id")
        .join(hits, "__id", "left")
        .select(F.col("__id").alias(id_col), F.coalesce("n_prev", F.lit(0)).alias("n_prev"))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Record linkage by edit distance: pairs with
    ``levenshtein(left, right) <= max_dist``, blocked so the quadratic
    comparison never runs corpus × corpus.

    Blocking: candidates must share the FIRST CHARACTER and differ in
    length by at most ``max_dist`` — both necessary conditions for an
    edit distance ≤ ``max_dist`` EXCEPT when the first character itself
    was edited, so block recall is governed by where corruption falls
    (the standard multi-pass answer: union a second pass blocked on
    last char / soundex). The block key join is an equi-join Catalyst
    hash-partitions; the levenshtein filter is row-local. At 100 TB the
    guard rails are the block-key histogram (operators.diagnostics
    skew_report) and a coarser second key (length band) already in the
    join condition.

    Returns ``(left_col, right_col, dist)`` for every qualifying pair.
    """
    l = left.select(F.col(left_col).alias("__l")).distinct().withColumn(
        "__blk", F.substring("__l", 1, 1)
    )
    r = right.select(F.col(right_col).alias("__r")).distinct().withColumn(
        "__blk", F.substring("__r", 1, 1)
    )
    return (
        l.join(r, "__blk")
        .filter(
            F.abs(F.length("__l") - F.length("__r")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("__l", "__r"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("__l").alias(left_col),
            F.col("__r").alias(right_col),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    id_col: str,
    start_col: str,
    end_col: str,
    cell_s: int = 3600,
) -> DataFrame:
    """All pairs of intervals that overlap (``a.start < b.end AND
    b.start < a.end``, half-open), id_a < id_b — the interval
    generalization of the time-bucketed range join above.

    A theta-join on the overlap predicate is quadratic; instead each
    interval is exploded onto the ``cell_s``-wide time cells it covers
    (``sequence(start div W .. end div W)``) and candidates meet in an
    EQUI-join on the cell. An overlapping pair co-occupies every cell
    their intersection touches, so to count each pair exactly once —
    without a distinct shuffle over the pair fan-out — only the meeting
    in the intersection's FIRST cell (``max(start_a, start_b) div W``)
    is kept: deterministic, no dedup pass.

    Replication = interval length / cell width (+1), so pick ``cell_s``
    near the typical interval length to keep the shuffle ~2x|intervals|.
    At 100 TB the cell histogram (diagnostics.key_histogram on the cell
    id) is the skew pre-flight: a rush-hour cell with every interval in
    it degrades toward per-cell quadratic, the salting/AQE cue.

    Start/end are epoch MICROSECONDS (bigint) — callers normalize
    timestamps first (the session frames below already carry µs).
    """
    width = cell_s * 1_000_000
    # __sc (start cell) rides along so the keep-once condition below is
    # exact integer arithmetic — float division of epoch-µs would risk
    # an off-by-one cell at .9999… boundaries.
    cells = intervals.select(
        F.col(id_col).alias("__id"),
        F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"),
        F.expr(f"`{start_col}` div {width}").alias("__sc"),
        F.explode(
            F.sequence(
                F.expr(f"`{start_col}` div {width}"),
                F.expr(f"`{end_col}` div {width}"),
            )
        ).alias("__cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(
            (F.col("a.__s") < F.col("b.__e"))
            & (F.col("b.__s") < F.col("a.__e"))
            & (
                F.col("a.__cell")
                == F.greatest(F.col("a.__sc"), F.col("b.__sc"))
            )
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
    )
