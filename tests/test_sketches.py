"""Count-min sketch units: the one-sided guarantee, mergeability, the
bounded-counter build, and heavy_hitters' total order."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_pipeline_api_spark.operators import sketches


def _items(spark, counts: dict[str, int]):
    rows = [Row(item=k) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows)


def test_cm_one_sided_and_exact_at_low_load(spark):
    counts = {"alpha": 50, "beta": 20, "gamma": 5, "delta": 1}
    df = _items(spark, counts)
    hh = sketches.heavy_hitters(df, "item", k=10, depth=4, width=1024)
    rows = {r.item: r for r in hh.collect()}
    assert set(rows) == set(counts)
    for item, n in counts.items():
        assert rows[item].exact == n
        assert rows[item].est >= n           # CM never underestimates
        assert rows[item].overcount >= 0
        # 4 items in 1024 buckets x 4 rows: collision probability ~0 ->
        # the estimate is exact here
        assert rows[item].est == n
    # rank is the (est desc, item) total order
    ranked = sorted(rows.values(), key=lambda r: r.rank)
    assert [r.item for r in ranked] == ["alpha", "beta", "gamma", "delta"]


def test_cm_collisions_only_add_under_tiny_width(spark):
    # width=2, depth=1: everything collides into two buckets — estimates
    # become bucket sums, still >= exact for every item
    counts = {f"t{i}": i + 1 for i in range(8)}
    df = _items(spark, counts)
    hh = sketches.heavy_hitters(df, "item", k=20, depth=1, width=2).collect()
    assert len(hh) == 8
    assert all(r.est >= r.exact and r.overcount >= 0 for r in hh)
    assert sum(r.exact for r in hh) == sum(counts.values())


def test_cm_sketch_bounded_and_mergeable(spark):
    counts = {f"w{i}": 3 for i in range(50)}
    df = _items(spark, counts)
    sk = sketches.countmin_build(df, "item", depth=4, width=16)
    rows = sk.collect()
    assert len(rows) <= 4 * 16  # counters, not items
    assert {r.j for r in rows} == {0, 1, 2, 3}
    # mergeability: sketch(A ∪ B) == groupBy-sum of sketch(A) + sketch(B)
    half_a = _items(spark, {k: 3 for k in list(counts)[:25]})
    half_b = _items(spark, {k: 3 for k in list(counts)[25:]})
    merged = (
        sketches.countmin_build(half_a, "item", depth=4, width=16)
        .unionByName(sketches.countmin_build(half_b, "item", depth=4, width=16))
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in rows}


def test_cm_estimate_zero_for_unseen_and_null_skipped(spark):
    df = _items(spark, {"seen": 4})
    sk = sketches.countmin_build(
        df.unionByName(spark.createDataFrame([(None,)], "item string")),
        "item", depth=2, width=64,
    )
    probe = spark.createDataFrame([Row(item="seen"), Row(item="never")])
    est = {r.item: r.est for r in
           sketches.countmin_estimate(sk, probe, "item", depth=2, width=64).collect()}
    assert est["seen"] == 4
    # an unseen item whose buckets were never touched estimates 0
    assert est["never"] >= 0
    # nulls in the build stream are absence, not a counted token
    assert sk.agg(F.sum("cnt")).collect()[0][0] == 2 * 4


def test_cm_depth_guard(spark):
    df = _items(spark, {"x": 1})
    with pytest.raises(ValueError, match="depth"):
        sketches.countmin_build(df, "item", depth=17)
    with pytest.raises(ValueError, match="depth"):
        sketches.countmin_estimate(df, df, "item", depth=17)
    for depth in (0, 17):
        with pytest.raises(ValueError, match="depth"):
            sketches.heavy_hitters(df, "item", depth=depth)


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    # dim keys 0..49; fact keys 0..199 -> 50 true matches. NO false
    # negative is the Bloom contract; at m=4096/k=4 over 50 keys the fp
    # rate is ~0 so candidates == true matches here
    dim = spark.range(50).select(F.col("id").alias("k"))
    fact = spark.range(200).select(F.col("id").alias("fk"))
    r = sketches.bloom_semijoin_stats(
        fact, "fk", dim, "k", m_bits=4096, k=4
    ).collect()[0]
    assert r.n_fact == 200 and r.n_true == 50
    assert r.n_candidates >= r.n_true          # no false negatives
    assert r.n_false_pos == r.n_candidates - r.n_true
    assert r.fp_rate == round(r.n_false_pos / 200, 6)
    # tiny filter (m=64) saturates: fp must rise, candidates still >= true
    r2 = sketches.bloom_semijoin_stats(
        fact, "fk", dim, "k", m_bits=64, k=4
    ).collect()[0]
    assert r2.n_candidates >= r2.n_true
    assert r2.n_false_pos >= r.n_false_pos


def test_bloom_build_mergeable_and_bounded(spark):
    a = spark.range(30).select(F.col("id").alias("k"))
    b = spark.range(30, 60).select(F.col("id").alias("k"))
    both = spark.range(60).select(F.col("id").alias("k"))
    direct = {
        r.word: r.bits for r in sketches.bloom_build(both, "k", 1024, 4).collect()
    }
    merged = {
        r.word: r.bits
        for r in (
            sketches.bloom_build(a, "k", 1024, 4)
            .unionByName(sketches.bloom_build(b, "k", 1024, 4))
            .groupBy("word")
            .agg(F.bit_or("bits").alias("bits"))
        ).collect()
    }
    assert direct == merged
    assert len(direct) <= 1024 // 32


def test_bloom_null_keys_dropped_both_sides(spark):
    dim = spark.createDataFrame([(1,), (None,)], "k long")
    fact = spark.createDataFrame([(1,), (2,), (None,)], "fk long")
    r = sketches.bloom_semijoin_stats(fact, "fk", dim, "k").collect()[0]
    assert r.n_fact == 2 and r.n_true == 1  # null fact rows not counted


def test_cm_lut_probe_matches_python_replay(spark):
    """r13 internals pin: heavy_hitters now derives the sketch from the
    exact per-item counts and probes it as a driver-collected LUT
    (est = min over d of lut[j*width + bucket_j]) — this replays the
    same sha256 hash family in pure Python and requires every (est,
    exact) pair to match bit-for-bit, guarding the single-pass rewrite's
    bucket/index arithmetic at a width tiny enough to force collisions."""
    import hashlib
    from collections import Counter

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("dd",)] * 7 + [
        ("e",)
    ]
    df = spark.createDataFrame(rows, "item string")
    depth, width = 4, 8
    hh = {
        r["item"]: (r["est"], r["exact"])
        for r in sketches.heavy_hitters(
            df, "item", k=10, depth=depth, width=width
        ).collect()
    }
    exact = Counter(x for (x,) in rows)

    def bucket(item: str, j: int) -> int:
        d = hashlib.sha256(item.encode()).hexdigest()
        return (
            int(d[4 * j : 4 * j + 2], 16) * 256
            + int(d[4 * j + 2 : 4 * j + 4], 16)
        ) % width

    cells: Counter = Counter()
    for it, n in exact.items():
        for j in range(depth):
            cells[(j, bucket(it, j))] += n
    for it, n in exact.items():
        est = min(cells[(j, bucket(it, j))] for j in range(depth))
        assert hh[it] == (est, n), (it, hh[it], (est, n))
