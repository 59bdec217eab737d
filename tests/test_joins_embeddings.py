"""Unit tests: salted join parity, embedding normalize/centroid."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_pipeline_api_spark.operators import similarity
from etl_pipeline_api_spark.operators.joins import salted_join


def test_salted_join_matches_plain_join(spark):
    # skewed fact side: key 1 is 80% of rows
    facts = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(80)] + [Row(k=j, v=j) for j in range(2, 22)]
    )
    dim = spark.createDataFrame([Row(k=i, name=f"d{i}") for i in range(0, 25)])
    plain = {(r.k, r.v, r.name) for r in facts.join(dim, "k").collect()}
    salted = {(r.k, r.v, r.name) for r in salted_join(facts, dim, "k", salt=4).collect()}
    assert salted == plain
    # left join keeps unmatched fact rows exactly once
    facts2 = facts.union(spark.createDataFrame([Row(k=999, v=0)]))
    left = salted_join(facts2, dim, "k", salt=4, how="left")
    assert left.filter(F.col("k") == 999).count() == 1
    with pytest.raises(ValueError):
        salted_join(facts, dim, "k", how="outer")


def test_l2_normalize_unit_norm(spark):
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[3.0, 4.0]), Row(vec_id=1, embedding=[0.5, 0.0])]
    )
    out = {r.vec_id: r.unit for r in similarity.l2_normalize(df, "embedding").collect()}
    assert out[0] == pytest.approx([0.6, 0.8])
    for v in out.values():
        assert math.fsum(x * x for x in v) == pytest.approx(1.0)


def test_centroids(spark):
    df = spark.createDataFrame(
        [
            Row(label=0, embedding=[1.0, 2.0]),
            Row(label=0, embedding=[3.0, 4.0]),
            Row(label=1, embedding=[10.0, 20.0]),
        ]
    )
    got = {
        (r.label, r.dim): r.c
        for r in similarity.centroids(df, "label", "embedding").collect()
    }
    assert got == {(0, 0): 2.0, (0, 1): 3.0, (1, 0): 10.0, (1, 1): 20.0}


def test_kmeans_separates_clusters(spark):
    # three tight, well-separated blobs -> perfect purity in <=5 iters
    rows = []
    for cid, base in ((0, 0.0), (1, 100.0), (2, -100.0)):
        for i in range(20):
            rows.append(Row(vid=cid * 100 + i, v=[base + (i % 5) * 0.1, base - (i % 3) * 0.1]))
    df = spark.createDataFrame(rows)
    assigned, cents = similarity.kmeans(df, "vid", "v", k=3, max_iter=5)
    got = assigned.collect()
    assert len(cents) == 3 and all(len(c) == 2 for c in cents)
    # every true blob maps onto exactly one learned cluster
    blobs = {}
    for r in got:
        blobs.setdefault(r.vid // 100, set()).add(r.cluster)
    assert all(len(s) == 1 for s in blobs.values()), blobs
    assert len({next(iter(s)) for s in blobs.values()}) == 3


def test_kmeans_init_driver_roundtrips_constant_in_k(spark, monkeypatch):
    """k-means|| init: driver round-trips must NOT grow with k — exactly two
    cluster-wide passes for seeding (seed-0 pick + weighted candidate
    sample) plus one per Lloyd iteration. The replaced farthest-first
    traversal did k-1 sequential full-scan collects (11 total here)."""
    from pyspark.sql import DataFrame, Row

    rows = [Row(vid=i, v=[float(i % 17), float((i * 7) % 13)]) for i in range(200)]
    df = spark.createDataFrame(rows)
    calls = []
    orig = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (calls.append(1), orig(self))[1]
    )
    _assigned, cents = similarity.kmeans(df, "vid", "v", k=10, max_iter=1)
    assert len(cents) == 10 and all(len(c) == 2 for c in cents)
    assert len(calls) <= 3, f"init is not constant-pass: {len(calls)} collects"


def test_ivf_kmeans_refinement_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=3).collect()}
    refined = {(r.query_id, r.neighbor_id)
               for r in similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                                            k=3, n_centroids=8, n_probe=4,
                                            kmeans_iters=2).collect()}
    assert len(exact & refined) / len(exact) >= 0.4
    assert {q for q, _ in refined} == {0, 1, 2, 3, 4}


def test_cosine_pairs_lsh_matches_exact(spark, sf_dir):
    """The LSH-blocked scale path must find the SAME pair set as the exact
    blocked-matmul path on the testdata (recall 1.0 at threshold 0.4 with the
    default narrow bands) — this is what lets op-dedup-embedding-lsh share
    the exact oracle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # non-vacuous


def test_cosine_pairs_lsh_rescore_is_join_free(spark, sf_dir):
    """r13 re-score contract: candidate pairs flow as bare ids into the
    broadcast-matrix kernel — the final plan must contain NO join (the
    pre-r13 shape re-attached two vector sides with broadcast hash
    joins, shipping 2×dim doubles per candidate across Arrow). The
    corpus collect this trades on is bounded by the operator's own
    viability regime (band buckets ~ corpus must be broadcast-sized;
    see the SCALE LIMIT in the docstring)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.cosine_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly the band-bucket candidate self-join; zero re-attach joins
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan


def test_cosine_pairs_lsh_nondefault_dim(spark):
    """Round-2 ADVICE regression: hyperplane dim must come from the DATA.
    With 16-dim vectors the old dim=64 hardcode zip_with-truncated every
    plane dot to null -> all-zero band signatures -> silent all-pairs
    candidates. Now dim is inferred (if it weren't, the per-row guard
    would raise), and the LSH pair set still equals the exact pair set."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(80, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(df, "vec_id", "embedding", threshold=0.6).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.6).collect()
    }
    assert lsh == exact


def test_cosine_pairs_lsh_mixed_dim_raises(spark):
    """A vector whose length disagrees with the hyperplane dim must fail
    loudly (the silent degradation mode is the bug)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 16), (3, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        similarity.cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.5).collect()


def test_cosine_pairs_lsh_empty_corpus_explicit_dim(spark):
    """An empty corpus is no pairs, with or without an explicit dim."""
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.5, dim=16)
    assert out.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,cos:double>"
    assert out.collect() == []


def test_cosine_pairs_lsh_rejects_duplicate_ids(spark):
    """Ids key the re-score matrix, so a duplicate is refused up front."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="duplicate"):
        similarity.cosine_pairs_lsh(df, "vec_id", "embedding", threshold=0.5)


def test_matrix_rows_rejects_missing_id():
    """A missing id must not gather the matrix's last row (indexer -1)."""
    import numpy as np
    import pandas as pd

    idx = pd.Index(np.array([10, 11, 12]))
    assert similarity._matrix_rows(idx, pd.Series([12, 10])).tolist() == [2, 0]
    with pytest.raises(KeyError, match="99"):
        similarity._matrix_rows(idx, pd.Series([10, 99]))


def test_cosine_pairs_blocked_matches_exact(spark, sf_dir):
    """The block-pair matmul scale path is EXACT by construction: pair set
    AND scores must equal the broadcast path, at several block counts
    (including B > distinct blocks occupied and B = 1 degenerate)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b, r.cos)
        for r in similarity.cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    for nb in (1, 4, 16):
        blocked = {
            (r.id_a, r.id_b, r.cos)
            for r in similarity.cosine_pairs_blocked(
                emb, "vec_id", "embedding", threshold=0.4, n_blocks=nb
            ).collect()
        }
        assert blocked == exact, f"n_blocks={nb}"
    assert len(exact) > 0


def test_cosine_pairs_blocked_group_col_restricts_to_groups(spark):
    """group_col turns the all-pairs kernel into a within-group search
    (the SemDeDup shape): a cross-group pair above the threshold must NOT
    appear, identical same-group pairs must."""
    import numpy as np

    base = np.ones(8)
    rows = [
        (0, [float(x) for x in base], 0),          # g0
        (1, [float(x) for x in base * 2.0], 0),    # g0: cos 1.0 with id 0
        (2, [float(x) for x in base * 3.0], 1),    # g1: cos 1.0 with both
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, grp int"
    )
    got = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_blocked(
            df, "vec_id", "embedding", threshold=0.9, group_col="grp"
        ).collect()
    }
    assert got == {(0, 1)}, got  # (0,2)/(1,2) are cross-group: excluded


def test_grouped_arrow_stages_pin_partition_count(spark, sf_dir):
    """AQE-starvation regression (r7): a few-MB shuffle feeding a grouped
    pandas stage coalesces to ONE partition under AQE's byte-sized
    coalescing, serializing every per-group python call on one core
    (measured 7x on op-asof-cogroup). The fix is a user-specified
    repartition(N, keys) right before the grouped stage — pinned here by
    the REPARTITION_BY_NUM marker in the optimized plans of the operator
    and the two registered queries that carry it."""
    import __spark_entry__ as m

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = similarity.cosine_pairs_blocked(
        emb, "vec_id", "embedding", threshold=0.4
    )._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" in plan

    queries = m.queries()
    for name in ("op-asof-cogroup", "op-grouped-zscore"):
        qplan = (
            queries[name](spark, sf_dir)
            ._jdf.queryExecution()
            .toString()
        )
        assert "REPARTITION_BY_NUM" in qplan, name


def test_planes_lit_expr_equals_py4j_literal_build(spark):
    """_planes_lit (r10) replaces ~2048 F.lit py4j round-trips with one
    F.expr parse. Pin exact value equality between the two builds across
    awkward doubles — negative zero, exponent-formatted magnitudes
    (repr emits '1e-05'/'1e+20'), subnormals, and max-double — so a
    formatting regression (lost precision, bad exponent suffix) fails
    here rather than as a silent signature flip in the LSH family."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_pipeline_api_spark.operators.similarity import _planes_lit

    awkward = np.array([
        [0.0, -0.0, 1e-05, -4.2e-17, 5e-324, 1.7976931348623157e308],
        [1e20, -1e20, 0.1 + 0.2, np.pi, -2.2250738585072014e-308, 1.0],
    ])
    rng = np.random.RandomState(7)
    for planes in (awkward, rng.randn(4, 16)):
        old = F.array(*[
            F.array(*[F.lit(float(v)) for v in row]) for row in planes
        ])
        new = _planes_lit(planes)
        row = spark.range(1).select(
            (old == new).alias("eq"), old.alias("o"), new.alias("n")
        ).collect()[0]
        assert row.eq, f"mismatch: {row.o} vs {row.n}"


def test_ivf_pairs_subset_of_exact_and_dialable(spark, sf_dir):
    """ivf_pairs (r11): IVF cell-blocked pair finding — the embedding
    pair path past sign-LSH's bucket-resolution ceiling. Contracts:
    (a) zero false positives and value-exact cosines (candidates are
    re-scored by the same blocked kernel the exact path uses);
    (b) recall is monotone in n_probe;
    (c) exhaustive probes (n_probe = n_centroids) recover the exact
    pair set — every vector is then in every cell."""
    from etl_pipeline_api_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in similarity.cosine_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    assert exact, "fixture corpus must contain >=0.4 pairs"
    last_recall = -1.0
    for p in (1, 2, 4):
        got = {
            (r.id_a, r.id_b): r.cos
            for r in similarity.ivf_pairs(
                emb, "vec_id", "embedding", threshold=0.4,
                n_centroids=4, n_probe=p,
            ).collect()
        }
        assert not set(got) - set(exact), "false positives"
        for k, v in got.items():
            assert abs(v - exact[k]) < 1e-9, "cosine must be value-exact"
        recall = len(got) / len(exact)
        assert recall >= last_recall - 1e-12, "recall must not drop with n_probe"
        last_recall = recall
    full = {
        (r.id_a, r.id_b)
        for r in similarity.ivf_pairs(
            emb, "vec_id", "embedding", threshold=0.4,
            n_centroids=4, n_probe=4,
        ).collect()
    }
    assert full == set(exact), "exhaustive probes must recover the exact set"


def test_ivf_pairs_empty_corpus(spark):
    from etl_pipeline_api_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.ivf_pairs(empty, "vec_id", "embedding", threshold=0.5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cos"]


def test_band_array_equals_per_band_substring_build(spark, sf_dir):
    """_band_array (r11) embeds the signature-bits subtree ONCE via
    transform-over-sequence instead of copying it per band (16 copies of
    a ~2048-literal tree cost 2.4 s of analyzer time per plan build —
    the residual half of op-dedup-embedding-lsh's r10 slowdown). Pin
    band-key equality against the old per-band F.substring build on the
    real corpus, for both LSH geometries in use (32 planes / width 2 and
    the topk path's width), so a substring-offset or formatting slip
    fails here rather than as a silent candidate-set change."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_pipeline_api_spark.operators.similarity import (
        _band_array,
        _dot,
        _planes_lit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    side = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    rng = np.random.RandomState(42)
    dim = side.select(F.size("v")).first()[0]
    for n_planes, width in ((32, 2), (16, 4)):
        pl = _planes_lit(rng.randn(n_planes, dim))

        def bits(vec):
            return F.concat_ws("", F.transform(
                pl,
                lambda p: F.when(_dot(p, vec) >= 0, F.lit("1")).otherwise(
                    F.lit("0")
                ),
            ))

        n_bands = n_planes // width
        old = F.array(*[
            F.concat(
                F.lit(f"{i}:"),
                F.substring(bits(F.col("v")), i * width + 1, width),
            )
            for i in range(n_bands)
        ])
        new = _band_array(bits(F.col("v")), n_bands, width)
        mism = side.select(old.alias("o"), new.alias("n")).filter(
            F.col("o") != F.col("n")
        ).count()
        assert mism == 0, f"band keys diverged for {n_planes}p/{width}w"


def test_run_available_now_state_partitions_value_neutral(spark, sf_dir):
    """The r10 drain state-partition sizing must never change RESULTS —
    state hash partitioning is internal. Drain the same watermarked agg
    at 3 partitions, 8 (the default), and None (session conf) and pin
    set equality; also pin that the session conf is restored (the
    session-hygiene sweep asserts this registry-wide; this is the
    direct unit)."""
    from etl_pipeline_api_spark.streaming import events as sev

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    for sp in (3, 8, None):
        stream = sev.read_events_stream(spark, sf_dir)
        out = sev.run_available_now(
            sev.windowed_agg(stream), state_partitions=sp
        )
        results.append({tuple(r) for r in out.collect()})
        assert spark.conf.get("spark.sql.shuffle.partitions") == saved, sp
    assert results[0] == results[1] == results[2]
