"""Mergeable frequency sketches (count-min) — SURVEY.md §2.9 breadth.

A 100 TB token/URL/user stream cannot afford an exact per-item count for
ad-hoc frequency questions; the count-min sketch (Cormode & Muthukrishnan
2005 — public method) answers point-frequency queries from d·w counters
with one-sided error: est(x) >= true(x) always, and
est(x) <= true(x) + N/w with probability 1 - (1/2)^d (d independent
rows). Both build and probe are single map-combined shuffles here — the
sketch IS a (row, bucket, cnt) DataFrame, so it merges across
partitions, days, or clusters by a further groupBy-sum (the
mergeability that makes it a streaming/distributed primitive).

Hash family: row j's bucket is derived from two sha256 digest bytes of
the item — deterministic, engine-portable (a DuckDB oracle replays the
exact sketch: sha256 + hex arithmetic), and pairwise-independent enough
for the CM guarantee in practice. depth <= 16 (2 bytes per row from the
32-byte digest).

Reference for parity: the reference engine (proj-eng-dados/main.py) has
no sketch surface; this is §2.9 LLM-pipeline breadth, same family as
op-approx-distinct (HLL vs exact anchor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hex(item_col):
    """The one sha256 per item every bucket derives from — hoist it into
    a named column before fanning out to d rows: Catalyst's codegen
    subexpression elimination does not reach inside explode(array(...))
    construction, so an inline sha2 per bucket evaluates d times per
    row (measured on the token stream: 4x the hash work of this
    shape)."""
    return F.sha2(item_col.cast("string"), 256)


def _bucket_from_hex(hx, j: int, width: int):
    """Row-j bucket from a precomputed sha256 hex column: digest bytes
    2j,2j+1 mod width — F.conv turns each hex pair into its byte value
    JVM-side; the DuckDB twin uses the shared strpos hex arithmetic."""
    b = (
        F.conv(F.substring(hx, 4 * j + 1, 2), 16, 10).cast("int") * 256
        + F.conv(F.substring(hx, 4 * j + 3, 2), 16, 10).cast("int")
    )
    return (b % width).cast("int")


def _check_depth(depth: int) -> None:
    """Row j reads hex digits 4j..4j+3 of the 64-digit sha256, so a sketch
    has at most 16 rows; past that the buckets would slice past the hash."""
    if not 1 <= depth <= 16:
        raise ValueError(f"countmin: depth {depth} not in [1, 16]")


def countmin_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: (j, bucket, cnt), d·w rows max. ONE
    map-combined groupBy over the exploded (item, j) stream — at any
    corpus size the reduce side is bounded by d·w counters, so the
    shuffle is a broadcast-sized aggregate no matter the input. Items
    NULL are skipped (they are absence, not a countable token)."""
    _check_depth(depth)
    it = (
        df.select(F.col(item_col).alias("__item"))
        .where(F.col("__item").isNotNull())
        .select(_hex(F.col("__item")).alias("__hx"))
    )
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _bucket_from_hex(F.col("__hx"), j, width).alias(
                            "bucket"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jb")
    )
    return rows.groupBy(
        F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for a set of items: join each item's d
    (j, bucket) probes to the sketch, min over rows — est >= true
    always (collisions only ADD). Missing (j, bucket) cells count 0
    (bucket never hit ⇒ estimate 0 ⇒ item unseen). The sketch side is
    d·w rows — broadcast; the probe is shuffle-free on the item side."""
    _check_depth(depth)
    probes = items.select(
        F.col(item_col).alias("item"), _hex(F.col(item_col)).alias("__hx")
    ).select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _bucket_from_hex(F.col("__hx"), j, width).alias(
                            "bucket"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jb"),
    ).select("item", "jb.j", "jb.bucket")
    joined = probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 20,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Top-k items by COUNT-MIN ESTIMATE, with the exact count and the
    sketch's overestimate carried as the in-plan gate (overcount >= 0
    always — CM is one-sided; a negative value anywhere is a bug, and
    the oracle hash-pins every estimate).

    The estimate column genuinely comes from the d·w-counter sketch
    (what a 100 TB run would keep); the exact column is the gate
    apparatus — at scale you would drop it and keep the CM guarantee
    est <= true + N/w w.p. 1-2^-d. Ties break on item for a total
    order. Output: (item, est, exact, overcount, rank).

    Plan shape (r13): ONE input pass. The exact per-item counts are the
    only aggregation that touches the input; the sketch derives from
    them (summing per-item counts into a cell == counting occurrences in
    the cell — the same linearity that makes CM mergeable), so the
    separate occurrence-level build pass is gone. The exact frame is
    eagerly checkpointed (it is the broadcast side of the old probe join,
    so the same bounded-vocabulary size class), the d·w cells collect to
    the driver (<= depth*width longs — the sketch IS broadcast-sized,
    like the Bloom words), and the probe becomes a pure projection:
    est(item) = least over d of lut[j*width + bucket_j], no join at all.
    The earlier shape paid 3 tokenize/scan passes and 2 broadcast hash
    joins for the same numbers."""
    _check_depth(depth)
    exact = (
        df.select(F.col(item_col).alias("item"))
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact"))
        .withColumn("__hx", _hex(F.col("item")))
        .localCheckpoint(eager=True)
    )
    cells = (
        exact.select(
            "exact",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            _bucket_from_hex(F.col("__hx"), j, width).alias(
                                "bucket"
                            ),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("jb"),
        )
        .groupBy("jb.j", "jb.bucket")
        .agg(F.sum("exact").alias("cnt"))
        .collect()
    )
    lut = [0] * (depth * width)
    for r in cells:
        lut[r["j"] * width + r["bucket"]] = int(r["cnt"])
    # single-parse literal build (the _planes_lit lesson from the
    # similarity kernels): F.lit(list) expands to one py4j call PER
    # ELEMENT — 4096 driver round-trips measured ~2-4 s of build time;
    # one server-side parse builds the identical CreateArray tree
    lut_lit = F.expr("array(" + ",".join(f"{v}L" for v in lut) + ")")
    probes = [
        F.element_at(
            lut_lit,
            _bucket_from_hex(F.col("__hx"), j, width) + F.lit(j * width + 1),
        )
        for j in range(depth)
    ]
    est_col = probes[0] if depth == 1 else F.least(*probes)
    scored = exact.select(
        "item",
        est_col.cast("long").alias("est"),
        F.col("exact").cast("long").alias("exact"),
        (est_col - F.col("exact")).cast("long").alias("overcount"),
    )
    # TakeOrdered (sort+limit) — per-partition top-k then a k-row merge,
    # never the single-task global window sort; the rank window then
    # runs over k rows only
    top = scored.orderBy(F.col("est").desc(), F.col("item")).limit(k)
    w = Window.orderBy(F.col("est").desc(), F.col("item"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "item", "est", "exact", "overcount", "rank"
    )


# ------------------------------------------------------- bloom filter

_BLOOM_WORD_BITS = 32  # 32-bit words held in BIGINTs: 1 << bit stays in
# signed range on engines that overflow-check shifts (DuckDB errors on
# 1::BIGINT << 63)


def _bloom_positions(key_col, k: int, m_bits: int):
    """k bit positions for a key: digest byte-pairs of sha256(key) mod m
    (the count-min hash family ``_bucket`` — deterministic and
    engine-portable)."""
    hx = _hex(key_col)
    return [_bucket_from_hex(hx, j, m_bits) for j in range(k)]


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 1024, k: int = 4) -> DataFrame:
    """Bloom filter over a key set as a (word, bits) DataFrame —
    m_bits/32 rows. ONE map-combined groupBy(bit_or): like the count-min
    build, the reduce side is bounded by the filter size regardless of
    input rows, and two filters over disjoint inputs merge by a further
    groupBy-bit_or (mergeability again).
    """
    keys = df.select(F.col(key_col).alias("__k")).where(F.col("__k").isNotNull())
    pos = keys.select(
        F.explode(
            F.array(*[p.alias("p") for p in _bloom_positions(F.col("__k"), k, m_bits)])
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("int").alias("word"),
            # pow, not shiftleft: F.shiftleft requires a PYTHON-int shift
            # amount; 2^bit is double-exact for bit <= 31, cast back exact
            F.pow(F.lit(2.0), (F.col("pos") % _BLOOM_WORD_BITS).cast("int"))
            .cast("long")
            .alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_semijoin_stats(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    m_bits: int = 1024,
    k: int = 4,
) -> DataFrame:
    """The 100 TB join-pruning pattern, made explicit and measurable:
    build a Bloom filter on the DIM key set (bounded build, see
    bloom_build), probe every FACT row against it (k sha-derived bit
    tests on a literal word array — zero shuffle, zero Python), and
    report what the filter would save vs the exact semi-join:

      (n_fact, n_candidates, n_true, n_false_pos, fp_rate)

    A Bloom probe has NO false negatives (every true match passes —
    asserted by construction in the unit suite) and a bounded
    false-positive rate ~(1-e^{-kn/m})^k; rows failing the probe never
    reach the join exchange, which is the saving at scale (Spark's own
    runtime row-group pruning applies the same idea below the API).
    The word array is m_bits/32 longs collected to the driver — the
    filter is broadcast-sized BY DESIGN (that is what makes the pattern
    work on a 1000-executor cluster).

    The dim side is deliberately scanned twice (re-measured r13): a
    shared-scan variant — eagerly checkpoint the distinct key set and
    feed both the Bloom build and the exact broadcast — replaced the
    build's map-combined bit_or over RAW keys (reduce side = m/32 word
    rows, no distinct needed) with a blocking 300k-key distinct shuffle
    + materialization that no longer pipelines with the fact scan, and
    measured sf10 3.2 → 4.0 s (profile: build 1.2 → 2.1 s). Two cheap
    aggregate passes over the SMALL side of a semi-join are not the
    scale cost; the fact side is read once either way.
    """
    words = bloom_build(dim, dim_key, m_bits, k).collect()
    arr = [0] * (m_bits // _BLOOM_WORD_BITS)
    for r in words:
        arr[r.word] = r.bits
    words_lit = F.array(*[F.lit(v).cast("long") for v in arr])
    fk = F.col(fact_key)
    probes = _bloom_positions(fk, k, m_bits)
    hit = None
    for p in probes:
        word_val = F.element_at(words_lit, (p / _BLOOM_WORD_BITS).cast("int") + 1)
        mask = F.pow(F.lit(2.0), (p % _BLOOM_WORD_BITS).cast("int")).cast(
            "long"
        )
        test = word_val.bitwiseAND(mask) != 0
        hit = test if hit is None else (hit & test)
    truth = dim.select(F.col(dim_key).alias("__dk")).distinct()
    tagged = (
        fact.where(fk.isNotNull())
        .withColumn("__bloom", hit)
        .join(F.broadcast(truth), fk == F.col("__dk"), "left")
        .withColumn("__true", F.col("__dk").isNotNull())
    )
    return tagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.col("__bloom").cast("long")).alias("n_candidates"),
        F.sum(F.col("__true").cast("long")).alias("n_true"),
        F.sum((F.col("__bloom") & ~F.col("__true")).cast("long")).alias(
            "n_false_pos"
        ),
        F.round(
            F.sum((F.col("__bloom") & ~F.col("__true")).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("fp_rate"),
    )
