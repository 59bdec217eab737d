"""Vector similarity search over an embedding column (SURVEY.md §2.9).

Three tiers, trading exactness for scale:

1. cosine_topk — exact brute force for a bounded QUERY set against the full
   corpus: crossJoin(queries, corpus) + JVM-side zip_with/aggregate dot
   product + window top-k. Cost is |Q|·|corpus|; right when |Q| is small
   (the common "search" shape). Corpus side stays distributed — no collect.
2. cosine_pairs — all-pairs above a threshold via numpy-blocked matmul in
   mapInPandas: the corpus matrix is a broadcast variable (fits executor
   memory up to ~10^7 x 64 floats); each partition multiplies its block
   against it. This is the "near-dup by embedding" shape.
3. lsh_topk — approximate: random-hyperplane sign buckets (deterministic
   seed) prune candidates before exact re-scoring; sub-quadratic, the
   100 TB path (at that scale: IVF/bucketed LSH + re-rank, never brute force).

Norms are precomputed once per side; cosine = dot / (na*nb).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import fan_out


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _band_array(bits, n_bands: int, width: int):
    """``array("0:bb", "1:bb", ...)`` band keys with the ``bits``
    expression embedded exactly ONCE.

    The naive ``F.array(*[F.substring(bits, i*w+1, w) for i in ...])``
    copies the whole ``bits`` subtree once per band — and ``bits`` here
    is the sign-signature over the hyperplane literal (~2048 Literal
    nodes), so 16 bands made a ~33k-node tree that the ANALYZER (which
    classic PySpark runs on every Dataset creation) and the optimizer
    (every execution) walked in full: measured 2.4 s of per-call plan
    build at sf0.1, the residual half of op-dedup-embedding-lsh's r10
    regression after _planes_lit killed the py4j storm. A ``transform``
    over ``sequence(0, n_bands-1)`` references ``bits`` from one shared
    node instead; the produced strings — and therefore every band key,
    candidate set, and downstream hash — are identical (pinned by
    tests/test_joins_embeddings.py)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda i: F.concat(
            i.cast("string"),
            F.lit(":"),
            bits.substr(i * width + 1, F.lit(width)),
        ),
    )


def _planes_lit(planes: np.ndarray):
    """The seeded hyperplane matrix as ONE nested-array literal expression.

    Built through a single ``F.expr`` parse instead of the naive
    ``F.array(*[F.array(*[F.lit(v) ...]) ...])``: each F.lit/F.array is a
    py4j round-trip, so 32x64 planes cost ~2048 driver JVM calls — measured
    2.4-5.8 s of DRIVER time per plan build at sf0.1, and the jitter (py4j
    latency tracks JVM heap/GC state) was the single largest source of
    mid-batch wobble on op-dedup-embedding-lsh (r10: 9.7 s in-batch vs
    ~4 s fresh-session, identical code and data). The parsed tree is the
    IDENTICAL CreateArray(CreateArray(Literal double)) shape — ``repr`` of
    a Python float round-trips exactly and the ``D`` suffix parses to the
    same DoubleType literal — so plans, semantics, and every downstream
    hash are unchanged; only the build transport differs (one call,
    server-side parse)."""
    rows = ", ".join(
        "array(" + ", ".join(f"{float(v)!r}D" for v in row) + ")"
        for row in planes
    )
    return F.expr(f"array({rows})")


def _empty_result(df: DataFrame, schema_fmt: str, id_cols: list[str]) -> DataFrame:
    """Schema-correct zero-row result for empty-corpus short-circuits: an
    empty partition/day is a daily production case, not an error. The id
    dtype is taken from the input so downstream joins keep typing."""
    id_dtype = df.schema[id_cols[0]].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        [], schema_fmt.format(id=id_dtype)
    )


def _checked_vec(vec, dim: int, op: str):
    """Row-level dimensionality guard for LSH paths: a vector whose length
    differs from the hyperplane dim would zip_with-truncate to a null dot,
    all-zero sign bits, and a silent O(N^2) candidate blowup — raise instead."""
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(F.lit(f"{op}: vector dim "), F.size(vec).cast("string"),
                     F.lit(f" != hyperplane dim {dim}"))
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector. Returns
    (query_id, neighbor_id, rank) — rank 1 = nearest, self-matches excluded.
    The small query side is broadcast; the corpus is never collected."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    q = q.withColumn("qn", _norm(F.col("qv")))
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            # try_divide: a zero-norm vector has no direction — its cosine is
            # NULL, ranking LAST under desc (ANSI x/0 would kill the task;
            # the r8 fuzz sweep hit exactly that)
            "cos",
            F.try_divide(_dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """All pairs with cosine >= threshold, (id_a < id_b) — EXACT, small-corpus
    path.

    numpy-blocked: collect the (ids, unit-vector matrix) to the DRIVER once
    (this collect, not executor memory, is the real ceiling — ~10^7 x 64
    doubles), broadcast it, and let each input partition compute
    block @ corpus.T vectorized (Arrow in, BLAS inside). O(N^2) comparisons
    by construction. At corpus sizes beyond the driver, or whenever scale
    matters more than exactness-at-low-thresholds, use ``cosine_pairs_lsh``
    (banded candidates + exact re-score, fully distributed — the default
    scale path for op-dedup-embedding). Returns (id_a, id_b, cos) rounded;
    id columns keep the input id dtype."""
    from ..session import ship_package

    spark = df.sparkSession
    ship_package(spark)  # mapInPandas closure must unpickle on workers
    id_dtype = df.schema[id_col].dataType.simpleString()
    pdf = df.select(id_col, vec_col).toPandas()
    if pdf.empty:
        return _empty_result(df, "id_a {id}, id_b {id}, cos double", [id_col])
    ids = pdf[id_col].to_numpy()
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    _n = np.linalg.norm(mat, axis=1, keepdims=True)
    _n[_n == 0] = 1.0  # zero-ONLY clamp: tiny-but-nonzero norms divide
    # exactly (the r8 fuzz sweep caught np.maximum(n, 1e-12) crushing a
    # 1e-15-norm vector's cosine below threshold while DuckDB scored it 1.0)
    mat /= _n
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def block_sim(batches):
        import pandas as pd

        for pdf_block in batches:
            block = np.stack(pdf_block[vec_col].to_numpy()).astype(np.float64)
            _bn = np.linalg.norm(block, axis=1, keepdims=True)
            _bn[_bn == 0] = 1.0  # zero-only clamp (see cosine_pairs)
            block /= _bn
            sims = block @ b_mat.value.T
            rows_i, cols_j = np.where(sims >= threshold)
            block_ids = pdf_block[id_col].to_numpy()
            ida, idb = block_ids[rows_i], b_ids.value[cols_j]
            keep = ida < idb
            yield pd.DataFrame(
                {
                    "id_a": ida[keep],
                    "id_b": idb[keep],
                    "cos": np.round(sims[rows_i, cols_j][keep], 4),
                }
            )

    return fan_out(df.select(id_col, vec_col)).mapInPandas(
        block_sim, schema=f"id_a {id_dtype}, id_b {id_dtype}, cos double"
    )


def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 8,
    group_col: str | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold with NO driver state — the scale
    path when the threshold is too low for LSH banding to discriminate
    (wide angles need near-all-pairs candidates anyway, see
    ``cosine_pairs_lsh``'s recall math).

    Classic distributed all-pairs: hash every row into one of B blocks, send
    each row to the B pair-groups (i, j), i <= j, it participates in, and let
    one Arrow-batched applyInPandas per group BLAS-multiply its two blocks.
    Every unordered row pair meets in EXACTLY one group, so no distinct is
    needed. Costs: shuffle = N x B rows (vs the driver collect + full-matrix
    broadcast of ``cosine_pairs``); per-task memory = 2N/B x dim doubles —
    pick B ~ N·dim·8 / executor-budget; total compute O(N^2·dim) spread over
    B(B+1)/2 independent tasks. The O(N^2) is inherent to EXACT all-pairs;
    what scales is that no single machine ever holds the corpus.

    ``group_col`` restricts the search to pairs WITHIN each group value
    (block-pair tasks are keyed (group, i, j), so cross-group pairs never
    meet): the SemDeDup kernel, where the group is a k-means cluster and
    the per-group quadratic replaces the global one at ~N^2/k compute —
    numpy BLAS per Arrow batch instead of a per-pair zip_with lambda,
    which Catalyst interprets ~100x slower per candidate."""
    from ..session import ship_package

    spark = df.sparkSession
    ship_package(spark)
    id_dtype = df.schema[id_col].dataType.simpleString()

    grp = [F.col(group_col).alias("g")] if group_col else []
    src = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        *grp,
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_blocks)))
    # pair-group list for block b: {(min(b,k), max(b,k)) : k in 0..B-1}
    pair_lit = F.array_distinct(
        F.array(*[
            F.struct(
                F.least(F.col("blk"), F.lit(k)).alias("pi"),
                F.greatest(F.col("blk"), F.lit(k)).alias("pj"),
            )
            for k in range(n_blocks)
        ])
    )
    exploded = (
        src.withColumn("pg", F.explode_outer(pair_lit))
        .filter(F.col("pg").isNotNull())
        .select(
            "id", "v", "blk",
            F.col("pg.pi").alias("pi"), F.col("pg.pj").alias("pj"),
            *(["g"] if group_col else []),
        )
    )

    def pairs_in_group(keys, pdf):
        import pandas as pd

        # with group_col the key is (g, pi, pj); the block logic is the same
        pi, pj = int(keys[-2]), int(keys[-1])
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        _n = np.linalg.norm(mat, axis=1, keepdims=True)
        _n[_n == 0] = 1.0  # zero-only clamp (see cosine_pairs)
        mat /= _n
        ids = pdf["id"].to_numpy()
        blk = pdf["blk"].to_numpy()
        if pi == pj:
            a_idx = b_idx = np.arange(len(ids))
        else:
            a_idx = np.where(blk == pi)[0]
            b_idx = np.where(blk == pj)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        sims = mat[a_idx] @ mat[b_idx].T
        rows_i, cols_j = np.where(sims >= threshold)
        ida, idb = ids[a_idx[rows_i]], ids[b_idx[cols_j]]
        cos = np.round(sims[rows_i, cols_j], 4)
        if pi == pj:
            # same-block group sees both (x,y) and (y,x): keep one orientation
            keep = ida < idb
            ida, idb, cos = ida[keep], idb[keep], cos[keep]
        else:
            # cross-block pairs appear exactly once — ORIENT, don't filter
            # (dropping ida > idb would lose pairs whose pi-side id is larger)
            ida, idb = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": ida, "id_b": idb, "cos": cos})

    keys = (["g"] if group_col else []) + ["pi", "pj"]
    # explicit hash repartition on the group keys: it satisfies the
    # grouped-map distribution requirement (no second shuffle) while
    # pinning the partition count — AQE sizes post-shuffle partitions by
    # BYTES and would coalesce the few-MB exploded frame to one
    # partition, serializing every block-pair matmul on one core
    n_part = spark.sparkContext.defaultParallelism
    return exploded.repartition(n_part, *keys).groupBy(*keys).applyInPandas(
        pairs_in_group, schema=f"id_a {id_dtype}, id_b {id_dtype}, cos double"
    )


def _matrix_rows(index, ids) -> np.ndarray:
    """Row positions of ``ids`` in the unique ``index``. ``get_indexer``
    marks a missing id with -1, which would silently gather the last
    row: raise instead."""
    rows = index.get_indexer(ids)
    if (rows < 0).any():
        raise KeyError(f"ids not in the corpus: {ids[rows < 0][:5].tolist()}")
    return rows


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 32,
    band_width: int = 2,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold via sign-LSH blocking
    (candidate-bounded, not O(N^2), while band buckets stay small).

    SCALE LIMIT, MEASURED (BENCH_SCALING.md "Sign-LSH -> IVF pair-finding
    crossover"): band values are bounded by 2^w,
    so buckets grow with N and recall-viable configs carry ~N^2/c
    candidate mass — at tau=0.9 / equal 1.0 recall, ivf_pairs is faster
    at EVERY measured corpus size (5k: 10.6 s vs 2.5 s; 60k: 299 s vs
    12.7 s; 200k: LSH projected 1.1e9 candidates vs IVF 36 s). There is
    no corpus size at which this operator out-scales ivf_pairs; use it
    for the oracle-exact gate regime and small corpora, and ivf_pairs /
    cosine_pairs_blocked(group_col) / semdedup as the production paths.

    Plan shape (three shuffles, all linear in candidates):
    1. signature: row-local sign bits over seeded random hyperplanes, split
       into bands of `band_width` bits (zero shuffle, whole-stage codegen).
    2. candidates: self-join on (band index, band bits) with id_a < id_b,
       then distinct — pairs sharing ANY band survive; bucket sizes, not
       N^2, bound the join.
    3. exact re-score: candidate (id_a, id_b) pairs — two longs each —
       flow straight into a vectorized pandas_udf that gathers both rows
       from a broadcast unit-vector matrix and batches the dot products
       (the corpus is broadcast-sized whenever this operator's candidate
       join is viable at all; the pre-r13 shape instead joined two vector
       sides back by id, paying 2 broadcast hash joins plus 2×dim float64
       per pair across the Arrow boundary). False positives die here; the
       only error mode is a missed pair whose every band differs. A
       cogrouped block-pair re-score (slim candidate shuffle + N x B
       vector rows, per-group BLAS) was tried in r7 and REJECTED on
       measurement: the extra distinct-then-repartition shuffle and the
       cogroup's per-partition SORT of the candidate set cost more than
       they save at every testable scale (sf0.1 flat, sf1 452 s vs ~250 s
       Spark-side, JVM OOM at 32 local cores holding 36 sorted 5M-row
       Arrow groups) — and past the broadcast ceiling the honest answer
       is op-dedup-embedding-blocked, not a wider LSH at a low threshold.

    Recall dial: per-bit agreement for a pair at angle θ is p = 1 - θ/π;
    recall = 1 - (1 - p^band_width)^n_bands. Low thresholds (wide angles)
    need NARROW bands and many of them — the default (width 2, 16 bands)
    holds recall > 0.999 down to cos ≈ 0.4. For the usual near-dup regime
    (cos >= 0.9, p >= 0.93) fewer, wider bands are cheaper.

    ``max_bucket`` is the 100 TB skew guard: a band bucket of B vectors
    yields B^2/2 candidates, so one degenerate bucket (a dense cluster of
    near-identical embeddings) reintroduces the quadratic cost the banding
    avoids. Oversized buckets are dropped before the self-join via a
    count-aggregate on the SAME key (co-partitions with the join). Lost
    recall is exactly "clusters bigger than the cap", which semantic dedup
    handles upstream (semdedup/kmeans); default None = uncapped, oracle-
    exact.

    `dim` (hyperplane dimensionality) is inferred from the first row when
    not given; every row is then ASSERTED to match it (a wrong dim would
    zip_with-truncate the dot to null, all-zero band bits, and a silent
    O(N^2) candidate explosion — fail loudly instead).
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            # empty corpus -> no pairs (schema-correct), not an error
            return _empty_result(df, "id_a {id}, id_b {id}, cos double", [id_col])
        dim = int(first["d"])
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    planes_lit = _planes_lit(planes)
    n_bands = n_planes // band_width

    def bands(vec):
        bits = F.concat_ws(
            "",
            F.transform(
                planes_lit,
                lambda plane: F.when(
                    _dot(plane, vec) >= 0, F.lit("1")
                ).otherwise(F.lit("0")),
            ),
        )
        # single-embed band split (see _band_array: the per-band substring
        # copies of this ~2048-literal subtree cost 2.4 s of analyzer time
        # per plan build)
        return _band_array(bits, n_bands, band_width)

    side = fan_out(df).select(
        F.col(id_col).alias("id"),
        _checked_vec(F.col(vec_col).cast("array<double>"), dim, "cosine_pairs_lsh").alias("v"),
    )
    banded = side.select(
        "id", F.explode_outer(bands(F.col("v"))).alias("band")
    ).filter(F.col("band").isNotNull())
    if max_bucket is not None:
        ok = (
            banded.groupBy("band")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band")
        )
        banded = banded.join(ok, "band")
    cand = (
        banded.select("band", F.col("id").alias("id_a"))
        .join(banded.select("band", F.col("id").alias("id_b")), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    from ..session import ship_package

    ship_package(df.sparkSession)

    from pyspark.sql.functions import pandas_udf

    # Re-score from a BROADCAST unit-vector matrix keyed by id (r13;
    # guide §8 — decide with small rows, never re-attach the payload):
    # the old shape joined the candidate pairs back to two vector sides
    # (2 broadcast hash joins) and shipped 2×dim float64 per pair across
    # the Arrow boundary; candidates now flow as bare (id_a, id_b) longs
    # and each batch gathers rows from the one corpus matrix every
    # executor already holds. The regime is honest: this operator is only
    # viable where band buckets — i.e. the corpus — are broadcast-sized
    # (see the SCALE LIMIT above); past that tier the answer is
    # ivf_pairs/cosine_pairs_blocked, not a wider LSH.
    #
    # Normalization is per corpus ROW over the same float64 data
    # (np.linalg.norm is batch-independent) and the per-pair kernel is the
    # identical elementwise-multiply + np.sum(axis=1) pairwise summation
    # the old _cos_batch ran on gathered contiguous rows, so every cosine
    # — and the oracle hash — is bit-unchanged. Same FORMULA as
    # cosine_pairs_blocked (the recall gates' `exact` anchor) but NOT the
    # same summation order (BLAS matmul there): a pair straddling the
    # threshold within an ulp can land in one set and not the other; the
    # op-dedup-embedding-lsh precision gate tolerates exactly that band.
    import pandas as pd

    pdf_side = side.toPandas()
    if pdf_side.empty:
        # empty corpus with an explicit dim -> no pairs (schema-correct)
        return _empty_result(df, "id_a {id}, id_b {id}, cos double", [id_col])
    idx = pd.Index(pdf_side["id"].to_numpy())
    if not idx.is_unique:
        raise ValueError(f"cosine_pairs_lsh: duplicate ids in {id_col!r}")
    mat = np.stack(pdf_side["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0  # zero-only clamp (see cosine_pairs)
    mat /= norms
    sc = df.sparkSession.sparkContext
    b_idx = sc.broadcast(idx)
    b_mat = sc.broadcast(mat)

    @pandas_udf("double")
    def _cos_pair(ia, ib):
        U = b_mat.value
        A = U[_matrix_rows(b_idx.value, ia)]
        B = U[_matrix_rows(b_idx.value, ib)]
        return pd.Series((A * B).sum(axis=1))

    return (
        cand.withColumn("__cos_raw", _cos_pair(F.col("id_a"), F.col("id_b")))
        # filter on the UNROUNDED cosine, round only for display: rounding
        # first admitted pairs with true cos in [threshold-5e-5, threshold)
        # — invisible at the gate SFs, 104 boundary pairs at sf1 (the exact
        # driver/blocked paths always filtered raw; this path must agree)
        .filter(F.col("__cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("__cos_raw", 4).alias("cos"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Centroids = a deterministic hash-ordered sample of corpus vectors;
    ``kmeans_iters > 0`` refines them with Lloyd's iterations (see
    ``kmeans``) for tighter cells → better recall at the same n_probe.
    Every corpus vector is assigned to its nearest centroid (K dot
    products, JVM-side, no shuffle); queries probe their `n_probe`
    nearest centroids and re-rank exactly within those cells only.

    Scan fraction ~ n_probe/n_centroids of the corpus per query — the
    standard recall/cost dial. Assignment is one pass; the probe join is
    broadcast (queries × probes is small).
    """
    if kmeans_iters > 0:
        _, cent_vecs = kmeans(
            corpus, id_col, vec_col, k=n_centroids, max_iter=kmeans_iters
        )
    else:
        # deterministic tiny centroid sample — xxhash64 order, collected (K rows)
        cent_vecs = [
            list(row.v)
            for row in (
                corpus.select(
                    F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
                )
                .orderBy(F.xxhash64(F.col(id_col).cast("string")))
                .limit(n_centroids)
                .collect()
            )
        ]
    if not cent_vecs:
        # empty corpus -> no cells, no neighbors (schema-correct)
        return _empty_result(
            corpus, "query_id {id}, neighbor_id {id}, rank int", [id_col]
        )
    # single-parse literal build (see _planes_lit): the F.lit loop for
    # K x dim centroid doubles was ~1k py4j round-trips = ~0.7 s of
    # driver time per plan build; the transform's two-arg lambda supplies
    # the cell index the old enumerate provided
    cent_lit = F.transform(
        _planes_lit(np.asarray(cent_vecs, dtype=float)),
        lambda cv, i: F.struct(i.alias("cid"), cv.alias("cv")),
    )

    def scored_cells(vec):
        # struct(dot, cid) array — struct ordering makes array_sort rank by dot
        return F.array_sort(
            F.transform(
                cent_lit,
                lambda c: F.struct(
                    (-_dot(c["cv"], vec)).alias("neg_dot"), c["cid"].alias("cid")
                ),
            )
        )

    # corpus side: BLAS-batched nearest-cell assignment (the Catalyst-
    # lambda version is O(N*K) interpreted dots — the measured heavy
    # term of this path's sf10 row); query side below stays the lambda,
    # it runs on the bounded query set only
    c = (
        _ivf_assign_blocked(corpus, id_col, vec_col, cent_vecs, 1)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__v").alias("cv"),
            F.col("__cell").alias("cell"),
        )
        .withColumn("cn", _norm(F.col("cv")))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    q = q.withColumn(
        "cell",
        F.explode(
            F.transform(F.slice(scored_cells(F.col("qv")), 1, n_probe), lambda s: s["cid"])
        ),
    ).withColumn("qn", _norm(F.col("qv")))
    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            # try_divide: a zero-norm vector has no direction — its cosine is
            # NULL, ranking LAST under desc (ANSI x/0 would kill the task;
            # the r8 fuzz sweep hit exactly that)
            "cos",
            F.try_divide(_dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _ivf_assign_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: "np.ndarray",
    n_probe: int,
) -> DataFrame:
    """n_probe-nearest-cell assignment as a BLAS batch product
    (mapInPandas over Arrow batches): batch @ cents.T then a stable
    argsort row-slice — ties break by ascending cell id, the same total
    order as the Catalyst struct-sort it replaces.

    WHY: the r12 sf10 sweep measured the Catalyst-lambda assignment
    (array_sort over K transform dots, interpreted per element) as the
    quadratic term of the K-tracks-N contract — N*K interpreted dots
    read 2.3 s -> 39.4 s across the sf1 -> sf10 decade (x17.1 at x10
    data). The same flops as one BLAS matmul per Arrow batch run ~50x
    cheaper, the cosine_pairs_blocked lesson applied to assignment.
    Output: (id, __v array<double>, __cell int), one row per probed
    cell. The asymptotic successor past ~10^8 vectors is hierarchical
    (coarse-then-fine) assignment — documented, not needed at any
    measured size."""
    import pandas as pd

    from ..session import fan_out, ship_package

    spark = df.sparkSession
    ship_package(spark)
    b_c = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))
    n_probe_eff = max(1, min(n_probe, len(cents)))
    id_dtype = df.schema[id_col].dataType.simpleString()

    def assign(batches):
        for b in batches:
            if not len(b):
                continue
            mat = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            order = np.argsort(
                -(mat @ b_c.value.T), axis=1, kind="stable"
            )[:, :n_probe_eff]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(b[id_col].to_numpy(), n_probe_eff),
                    "__v": [
                        v
                        for v in b[vec_col]
                        for _ in range(n_probe_eff)
                    ],
                    "__cell": order.ravel().astype("int32"),
                }
            )

    src = fan_out(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    return src.mapInPandas(
        assign, f"{id_col} {id_dtype}, __v array<double>, __cell int"
    )


def ivf_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_centroids: int = 64,
    n_probe: int = 2,
    kmeans_iters: int = 0,
    n_blocks: int = 4,
) -> DataFrame:
    """All pairs with cosine >= threshold via IVF cell blocking — the
    embedding pair-finding path PAST sign-LSH's bucket-resolution
    ceiling (see cosine_pairs_lsh and the measured crossover in
    BENCH_SCALING.md).

    Every vector is assigned to its ``n_probe`` nearest of ``K``
    centroids (deterministic hash-ordered sample; ``kmeans_iters > 0``
    refines with Lloyd's — row-local K dot products either way, no
    shuffle); a pair is a candidate iff the rows SHARE a cell, and
    within-cell exact scoring reuses cosine_pairs_blocked's
    group-restricted BLAS kernel. Duplicate candidates (pairs sharing
    several probed cells) collapse on (id_a, id_b).

    The scale contract: candidate mass ~ N² · n_probe² / K, so with K
    tracking N (e.g. K = N/500) the work is LINEAR in N at fixed probe
    count — unlike recall-viable sign-LSH at moderate thresholds, whose
    bands can only take 2^w values and therefore degenerate to ~N²/c
    buckets as N grows. Recall: a >= tau pair is missed iff the two
    rows' probe sets are disjoint — near-dup pairs (tiny angles) almost
    always share their nearest cell; the dial is n_probe (and kmeans
    refinement for tighter cells). Measured against the exact sampled
    reference: BENCH_SCALING.md "Sign-LSH -> IVF pair-finding crossover"."""
    if kmeans_iters > 0:
        _, cent_vecs = kmeans(
            df, id_col, vec_col, k=n_centroids, max_iter=kmeans_iters
        )
    else:
        cent_vecs = [
            list(row.v)
            for row in (
                df.select(
                    F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
                )
                .orderBy(F.xxhash64(F.col(id_col).cast("string")))
                .limit(n_centroids)
                .collect()
            )
        ]
    if not cent_vecs:
        return _empty_result(df, "id_a {id}, id_b {id}, cos double", [id_col])
    # BLAS-batched assignment (see _ivf_assign_blocked): the Catalyst-
    # lambda version was the measured quadratic term of the K-tracks-N
    # contract at the second scaling decade (x17.1 at x10 data)
    assigned = _ivf_assign_blocked(df, id_col, vec_col, cent_vecs, n_probe)
    return cosine_pairs_blocked(
        assigned, id_col, "__v", threshold,
        n_blocks=n_blocks, group_col="__cell",
    ).dropDuplicates(["id_a", "id_b"])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 12,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket join + exact re-score.

    Sign-bit signature over `n_planes` fixed hyperplanes (seeded — plan is
    deterministic across runs/executors), split into `n_bands` bands of
    n_planes/n_bands bits; candidates share at least one full band.
    Sub-quadratic: the join key is (band index, band bits).

    Recall/cost dial: for neighbor angle θ, per-bit agreement p = 1 - θ/π,
    recall ≈ 1 - (1 - p^width)^n_bands. Narrow bands (width 2-3) are needed
    when neighbors sit at moderate angles (cos ~0.4); wide bands only pay
    off for tight clusters. At 100 TB, also cap bucket sizes (skew guard)
    and multi-probe the adjacent buckets instead of adding bands.

    `dim` is inferred from the corpus when not given; rows (corpus AND
    query side) that don't match it raise rather than degrade — see
    _checked_vec.
    """
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            # empty corpus -> no neighbors (schema-correct), not an error
            return _empty_result(
                corpus, "query_id {id}, neighbor_id {id}, rank int", [id_col]
            )
        dim = int(first["d"])
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    planes_lit = _planes_lit(planes)

    def signature(vec):
        bits = F.transform(
            planes_lit,
            lambda plane: F.when(_dot(plane, vec) >= 0, F.lit("1")).otherwise(F.lit("0")),
        )
        return F.concat_ws("", bits)

    width = n_planes // n_bands

    def bands(vec):
        # single-embed band split (see _band_array)
        return _band_array(signature(vec), n_bands, width)

    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _checked_vec(F.col(vec_col).cast("array<double>"), dim, "lsh_topk").alias("cv"),
    ).withColumn("band", F.explode(bands(F.col("cv")))).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _checked_vec(F.col(vec_col).cast("array<double>"), dim, "lsh_topk").alias("qv"),
    ).withColumn("band", F.explode(bands(F.col("qv")))).withColumn("qn", _norm(F.col("qv")))
    cand = (
        c.join(F.broadcast(q), "band")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .distinct()
        .withColumn(
            # try_divide: a zero-norm vector has no direction — its cosine is
            # NULL, ranking LAST under desc (ANSI x/0 would kill the task;
            # the r8 fuzz sweep hit exactly that)
            "cos",
            F.try_divide(_dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def l2_normalize(df: DataFrame, vec_col: str, out: str = "unit") -> DataFrame:
    """Unit-normalize an embedding column (row-local, zero shuffle).

    The norm is materialized as a real column FIRST — dividing inside a
    transform lambda that references the norm *expression* would embed a
    copy of the full sum-of-squares tree per element (the higher-order-
    function expression-copy trap).

    A ZERO vector normalizes to itself (all zeros), not an ANSI
    divide-by-zero task kill — the r8 fuzz sweep's zero-vector row; the
    engine-side contract is pinned in tests/test_fuzz_corpus.py."""
    with_n = df.withColumn(
        "__nrm", _norm(F.col(vec_col).cast("array<double>"))
    )
    return with_n.withColumn(
        out,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.when(F.col("__nrm") == 0.0, x).otherwise(
                x / F.col("__nrm")
            ),
        ),
    ).drop("__nrm")


def centroids(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Per-group centroid as (group, dim, c): posexplode + ONE hash
    aggregation keyed on (group, dim) — partial aggregation combines
    map-side, so the shuffle carries |groups|×dims rows, not |rows|×dims.
    (The long format avoids building wide rows in the agg; pivot back to
    array with array_agg ordered by dim if a vector column is needed.)"""
    return (
        df.select(
            F.col(group_col),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
        )
        .groupBy(group_col, "dim")
        .agg(F.avg("x").alias("c"))
    )


def _d2_matrix(mat, cents):
    """Squared euclidean distances batch×centroids via the BLAS identity
    ||x-c||² = ||x||² - 2 x·c + ||c||² — O(n·k) memory (no n×k×dim
    broadcast temporary) and a matmul instead of an elementwise pass;
    clamped at 0 against cancellation for coincident points."""
    d2 = (
        (mat * mat).sum(axis=1)[:, None]
        - 2.0 * (mat @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    return np.maximum(d2, 0.0)


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 5,
    wcss_out: list | None = None,
    keep_vec: bool = False,
    eager_assign: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means expressed as DataFrame ops (no MLlib, no RDDs).

    Per iteration, ONE Arrow-batched pass (mapInPandas) fuses ASSIGN and
    the UPDATE partials: each batch numpy-argmins its rows against the
    k×dim centroid array (closure-captured — broadcast-by-pickle, tiny)
    and emits per-cluster partial sums (n, Σx vector, Σ min-d²). A
    k×n_batches-row groupBy reduces the partials (element-wise array add
    via zip_with — interpreted, but over k×batches rows, not |rows|) and
    k rows collect to the driver: the one round-trip per iteration stays
    O(k·dim), and the shuffle carries k rows per map task, not |rows|.
    (The r1–r7 shape assigned via a k-literal zip_with argmin and
    updated via posexplode(v) — both interpreted per ROW×dim; the numpy
    batch path measured 3.1 s → 2.1 s on sf0.1 at k=4 — the residual is
    per-iteration job latency, and the gap widens with rows×k×dim —
    with identical semantics: numpy's first-min tie-break == the
    struct-sort (d2, cid) rule.)

    Init: k-means||-style two-pass seeding (Bahmani et al. 2012, collapsed
    to one oversampling round). Pass 1 picks seed 0 deterministically
    (min xxhash64 of the id). Pass 2 draws ONE distributed weighted sample
    of ~4k candidates with probability ∝ d²(x, seed 0) — A-Res weighted
    reservoir order (key = ln(u)/w, u a deterministic per-id hash uniform,
    so the "sample" is a rerunnable top-4k, not an RNG draw) — and the
    remaining k-1 seeds come from a driver-side farthest-first over that
    O(k)-row candidate set. Exactly TWO cluster-wide passes regardless of
    k (the earlier farthest-first traversal serialized k-1 full
    orderBy().limit(1) scans on the driver's clock); driver work is
    O(k²·dim) on the sample, driver traffic O(k·dim).
    Returns (assignments DataFrame (id, cluster), centroids).

    An empty cluster keeps its previous centroid (standard Lloyd's fallback).

    ``wcss_out``: pass a list to receive the per-iteration within-cluster
    sum of squared distances (WCSS under the iteration's centroids, i.e.
    Σ min-d² BEFORE the update). It rides the SAME k×dim update shuffle
    (one extra sum column), costing no extra job. Lloyd's guarantees the
    sequence is monotone non-increasing — the structural gate op-kmeans'
    oracle pins (a broken assign or update step shows up as a WCSS bump).

    ``keep_vec``: the assignment frame additionally carries the input
    vector as ``__v`` (array<double>) — the assign pass holds it in hand
    anyway, so a caller that needs (id, cluster, vec), like semdedup's
    within-cluster pair search, skips a full corpus re-scan + join.
    ``eager_assign``: localCheckpoint the assignment EAGERLY while the
    input is still persisted — the assign pass then reads the Lloyd
    iterations' cached blocks instead of re-running the corpus scan
    after ``data.unpersist()`` (Catalyst re-evaluates Python-eval
    subtrees per consumer, and the returned frame outlives the persist
    scope; the r12 lazy-checkpoint fix paid the scan once, this pays it
    zero times beyond the cache fill).
    """
    data = fan_out(df).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()

    def _min_d2(chosen: list[list[float]]):
        # single-parse literal build (see _planes_lit) — this is rebuilt
        # EVERY Lloyd iteration, so the K x dim F.lit loop paid its
        # ~0.7 s py4j storm once per round
        cent_arr = _planes_lit(np.asarray(chosen, dtype=float))
        return F.array_min(
            F.transform(
                cent_arr,
                lambda cv: F.aggregate(
                    F.zip_with(cv, F.col("v"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
        )

    seed_rows = (
        data.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(1)
        .collect()
    )
    if not seed_rows:
        # empty corpus -> no clusters, no assignments (schema-correct)
        data.unpersist()
        empty_fmt = id_col + " {id}, cluster int"
        if keep_vec:
            empty_fmt += ", __v array<double>"
        return _empty_result(df, empty_fmt, [id_col]), []
    cents: list[list[float]] = [list(seed_rows[0].v)]
    if k > 1:
        # A-Res weighted order: maximizing u^(1/w) == maximizing ln(u)/w
        # (ln(u) < 0, w > 0). u is a deterministic (0,1) uniform from a
        # per-id hash, so the draw is rerun-stable. w = d² to seed 0;
        # d² = 0 rows get a NULL key (try_divide — ANSI mode raises on
        # plain x/0) and sort last: exact duplicates of the seed are never
        # wasted candidates.
        u = (
            F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(1)), F.lit(2**53))
            + F.lit(0.5)
        ) / F.lit(float(2**53))
        sample = (
            data.withColumn("__key", F.try_divide(F.log(u), _min_d2(cents)))
            .orderBy(F.col("__key").desc_nulls_last(), F.col(id_col))
            .limit(4 * k)
            .collect()
        )
        cand = [list(r.v) for r in sample]

        def _d2(a: list[float], b: list[float]) -> float:
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        # farthest-first on the candidate set: tiny (≤4k rows), driver-side
        nearest = [_d2(c, cents[0]) for c in cand]
        while len(cents) < k and cand:
            far_i = max(range(len(cand)), key=lambda i: nearest[i])
            if nearest[far_i] <= 0.0 and len(cents) > 1:
                break  # only exact copies of chosen seeds remain
            cents.append(cand[far_i])
            nearest = [
                min(d, _d2(c, cents[-1])) for d, c in zip(nearest, cand)
            ]
        # fewer distinct points than k: keep previous duplicate-centroid
        # behavior (harmless — argmin tie-breaks on the lowest cluster id)
        while len(cents) < k and cand:
            cents.append(cand[0])
    try:
        from ..session import ship_package

        ship_package(df.sparkSession)
        dim = len(cents[0])
        id_dtype = df.schema[id_col].dataType.simpleString()

        def _partials_fn(cents_np):
            def fn(it):
                import pandas as pd

                for pdf in it:
                    if pdf.empty:
                        continue
                    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                    d2 = _d2_matrix(mat, cents_np)
                    cl = d2.argmin(axis=1)
                    mind2 = d2[np.arange(len(cl)), cl]
                    uniq = np.unique(cl)
                    yield pd.DataFrame(
                        {
                            "cluster": uniq.astype("int32"),
                            "n": [int((cl == ci).sum()) for ci in uniq],
                            "sx": [mat[cl == ci].sum(axis=0).tolist() for ci in uniq],
                            "wcss": [float(mind2[cl == ci].sum()) for ci in uniq],
                        }
                    )

            return fn

        # the centroids each ASSIGN ran under (pre-update) — the returned
        # assignment frame must pair with the iteration that produced it,
        # matching the r1–r7 contract
        assign_cents = cents
        zero = F.array(*[F.lit(0.0)] * dim)
        for _ in range(max_iter):
            assign_cents = cents
            upd = (
                data.mapInPandas(
                    _partials_fn(np.asarray(cents, dtype=np.float64)),
                    schema="cluster int, n long, sx array<double>, wcss double",
                )
                .groupBy("cluster")
                .agg(
                    F.sum("n").alias("n"),
                    F.aggregate(
                        F.collect_list("sx"),
                        zero,
                        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                    ).alias("sx"),
                    F.sum("wcss").alias("w"),
                )
                .collect()
            )
            if wcss_out is not None:
                wcss_out.append(float(sum(r.w for r in upd)))
            new_cents = [list(c) for c in cents]  # empty cluster → keep old
            for r in upd:
                new_cents[r.cluster] = [x / r.n for x in r.sx]
            if new_cents == cents:
                break
            cents = new_cents

        final_np = np.asarray(assign_cents, dtype=np.float64)

        def _assign(it):
            import pandas as pd

            for pdf in it:
                if pdf.empty:
                    continue
                mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                d2 = _d2_matrix(mat, final_np)
                out = {
                    id_col: pdf[id_col],
                    "cluster": d2.argmin(axis=1).astype("int32"),
                }
                if keep_vec:
                    out["__v"] = pdf["v"]
                yield pd.DataFrame(out)

        schema = f"{id_col} {id_dtype}, cluster int"
        if keep_vec:
            schema += ", __v array<double>"
        assigned = data.mapInPandas(_assign, schema=schema)
        if eager_assign:
            # materialize while `data` is still persisted (see docstring)
            assigned = assigned.localCheckpoint(eager=True)
        return assigned, cents
    finally:
        data.unpersist()


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    k: int = 8,
    max_iter: int = 3,
) -> DataFrame:
    """Semantic dedup, SemDeDup shape (Abbas et al. 2023): cluster the
    embedding space with k-means, then search for near-duplicate pairs
    ONLY within each cluster and greedily drop the non-canonical side.

    Why clustering first: exact all-pairs is O(N²); LSH banding loses
    discrimination at moderate thresholds (see ``cosine_pairs_lsh``'s
    recall math). K-means blocking bounds the candidate join by the
    cluster sizes (~N²/k comparisons for balanced clusters) while
    near-duplicates — by definition close in embedding space — land in
    the same cluster with high probability. The approximation error mode
    is a near-dup pair straddling a cluster boundary; raising k trades
    recall for speed, k=1 degrades to exact all-pairs (the unit tests
    pin that equivalence).

    Assignment rides ``kmeans`` (row-local argmin); the within-cluster
    candidate search reuses the block-pair matmul kernel with the
    cluster id as its group key (``cosine_pairs_blocked(group_col=...)``)
    — per-cluster numpy BLAS over Arrow batches, ~N²/k comparisons total,
    no cross-cluster pair ever meets a task. (The r1–r7 shape was a
    same-cluster equi-join with a zip_with/aggregate cosine per
    candidate; Catalyst interprets those array lambdas per-pair, which
    measured ~100x slower per comparison than the BLAS batch — 6.7 s vs
    <0.5 s on sf0.1's 2k vectors — with identical pair semantics.)
    Returns (id, cluster, keep) — keep=false iff some same-cluster
    neighbor with a SMALLER id is within the threshold (min-id
    canonical, the same greedy rule the paper uses with
    cluster-centroid distance).
    """
    # keep_vec + eager_assign (r13; r12 used a lazy checkpoint here):
    # the assignment pass emits (id, cluster, vec) in one go and is
    # checkpointed while kmeans' persisted input is still alive, so the
    # two consumers below (pair search + keep join) read blocks — no
    # corpus re-scan, and the old (assigned JOIN vecs) shuffle that
    # re-attached the vectors is gone outright (guide §2.4).
    assigned, _ = kmeans(
        df, id_col, vec_col, k=k, max_iter=max_iter,
        keep_vec=True, eager_assign=True,
    )
    clustered = assigned.select(
        id_col, "cluster", F.col("__v").alias("_v")
    )
    dropped = (
        cosine_pairs_blocked(
            clustered, id_col, "_v", threshold, group_col="cluster"
        )
        .select(F.col("id_b").alias("_drop_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, F.col(id_col) == F.col("_drop_id"), "left"
        )
        .select(
            id_col,
            "cluster",
            F.col("_drop_id").isNull().alias("keep"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """k-nearest-neighbor label vote — the classifier you get for free
    once top-k similarity search works.

    Rides :func:`cosine_topk` (broadcast queries x distributed corpus,
    JVM dot products), then joins each neighbor to its label (a second
    broadcast-able |queries|*k frame against the corpus label
    projection) and takes the majority vote; ties break toward the
    SMALLEST label via one struct max (votes desc, then -label).
    Output: (query_id, pred_label, n_votes) — deterministic, so a
    DuckDB oracle hash-matches the vote, not just the row count.

    Scale: the expensive part is exactly the search path already
    audited in op-sim-search; the vote adds two tiny shuffles on
    |queries|*k rows.
    """
    topk = cosine_topk(corpus, queries, id_col, vec_col, k=k)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return (
        votes.groupBy("query_id")
        .agg(
            F.max(
                F.struct(
                    F.col("votes").alias("v"), (-F.col("nlabel")).alias("neg")
                )
            ).alias("top")
        )
        .select(
            "query_id",
            (-F.col("top.neg")).alias("pred_label"),
            F.col("top.v").alias("n_votes"),
        )
    )


def _achlioptas_matrix(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic sparse ±1 projection matrix (Achlioptas 2003):
    entry = −1 w.p. 1/6, +1 w.p. 1/6, 0 w.p. 2/3, drawn from the
    Knuth-mix of the (row, col) index — reproducible in ANY engine
    (and inlined as literals into the oracle SQL, so the projection is
    part of the query definition, not hidden state)."""
    m = []
    for k in range(out_dim):
        row = []
        for j in range(in_dim):
            key = ((k * in_dim + j + 1) * 2654435761) % (2**32)
            u = key / 2**32
            row.append(-1 if u < 1 / 6 else (1 if u > 5 / 6 else 0))
        m.append(row)
    return m


def random_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 16,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    DETERMINISTIC sparse projection — the standard pre-step that makes
    100 TB-scale ANN/dedup cheaper (a 64→16 projection cuts every
    downstream dot product 4×, and JL guarantees pairwise distances
    survive within (1±ε)).

    The Achlioptas ±1 matrix means projection is sums/differences, no
    float multiplies; each output coordinate is one ``zip_with`` +
    ``aggregate`` over the input array — row-local, zero shuffle,
    whole-stage-codegen'd. The matrix is a compile-time literal from
    the Knuth mixer, so any engine reproduces it exactly. Output:
    (id, proj: array<double>) with the √(3/out_dim) Achlioptas scale
    folded in; callers round their probe columns for cross-engine
    hashing (the raw projection keeps full precision for downstream
    dot products).
    """
    head = df.select(vec_col).first()
    if head is None or head[0] is None:
        # same contract as cosine_pairs_lsh: dim is inferred from data,
        # so an empty/null corpus raises loudly instead of projecting
        # onto a guessed dimension
        raise ValueError(
            "random_project: cannot infer input dimension from an empty "
            "corpus (pass a non-empty DataFrame)"
        )
    in_dim = len(head[0])
    m = _achlioptas_matrix(out_dim, in_dim)
    scale = (3.0 / out_dim) ** 0.5
    v = F.col(vec_col).cast("array<double>")
    # one transform over the single-parse matrix literal (see
    # _planes_lit / _band_array): the per-coordinate comprehension built
    # out_dim x in_dim literals through F.lit (~1k py4j round-trips) AND
    # embedded a copy of `v` per output coordinate; this embeds both
    # exactly once, with identical per-row arithmetic and ordering
    proj = F.transform(
        _planes_lit(np.asarray(m, dtype=float)),
        lambda row: F.aggregate(
            F.zip_with(v, row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * scale,
    )
    return df.select(F.col(id_col), proj.alias("proj"))


# =====================================================================
# Product quantization (PQ): memory-compressed embeddings for ANN
# =====================================================================

def _pq_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, k: int, dim: int
) -> np.ndarray:
    """k codebook centroids = a deterministic md5-ordered corpus sample.

    md5 (not xxhash64) so a SQL oracle can reproduce the exact sample:
    DuckDB computes the identical md5 hex of the identical id string.
    Bounded collect: k full vectors (k*dim doubles), the same driver
    contract as kmeans seeds / ivf_topk's centroid sample."""
    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            _checked_vec(F.col(vec_col).cast("array<double>"), dim, "pq").alias("v"),
        )
        .orderBy(F.md5(F.col("id").cast("string")))
        .limit(k)
        .collect()
    )
    return np.asarray([list(r["v"]) for r in rows], dtype=float)


def _pq_subspace_dists(v, cents: np.ndarray, s: int, d_sub: int):
    """array<double> of squared L2 distances from v's s-th subvector to
    every centroid's s-th subvector — sequential left-fold summation
    ((a-b)*(a-b), acc+x), bit-identical to DuckDB's list_reduce over the
    same doubles, so code assignments are engine-exact."""
    sub = F.slice(v, s * d_sub + 1, d_sub)
    mat = _planes_lit(cents[:, s * d_sub : (s + 1) * d_sub])
    return F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    dim: int | None = None,
    cents: np.ndarray | None = None,
    with_recon2: bool = False,
) -> DataFrame:
    """Product-quantization encode: each vector becomes m small codes
    (one nearest-centroid index per subspace) — the memory path for
    100 TB ANN: dim float32 -> m bytes (here 64x4B -> 4B, 64x), with
    distances still computable from codes alone (see pq_adc_topk).

    Codebook: per subspace s, the k sampled centroids' s-th subvectors
    (sampling in _pq_centroids; pass ``cents`` to reuse a codebook).
    Encode is ONE scan with zero shuffle and zero Python — per row,
    m*k sequential-fold subvector distances inside whole-stage codegen,
    argmin per subspace (first-index tie-break, matching SQL
    row_number ties). Output: (id, codes array<int>); ``with_recon2``
    adds the exact squared reconstruction error sum_s min_j d(x_s, c_j)
    — the quantization-error bound op-pq-quality's triangle gate uses.

    Each subspace's distance array is materialized ONCE behind a
    projection boundary and the argmin/min read the column reference —
    the _band_array lesson: embedding the k-centroid fold subtree once
    per consumer would double the analyzer/optimizer tree per output.

    Scale: linear, embarrassingly parallel, no driver state beyond the
    k x dim codebook (broadcast as a plan literal). At petabyte corpus
    size the collect-free alternative is a kmeans()-refined codebook —
    the sample codebook here is the deterministic, oracle-replayable
    variant (Jegou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — public method)."""
    out_schema = "id {id}, codes array<int>" + (
        ", recon2 double" if with_recon2 else ""
    )
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            return _empty_result(corpus, out_schema, [id_col])
        dim = int(first["d"])
    if dim % m:
        raise ValueError(f"pq_encode: dim {dim} not divisible by m {m}")
    d_sub = dim // m
    if cents is None:
        cents = _pq_centroids(corpus, id_col, vec_col, k, dim)
    if cents.size == 0:
        return _empty_result(corpus, out_schema, [id_col])
    v = _checked_vec(F.col(vec_col).cast("array<double>"), dim, "pq_encode")
    staged = corpus.select(
        F.col(id_col).alias("id"),
        *[
            _pq_subspace_dists(v, cents, s, d_sub).alias(f"__d{s}")
            for s in range(m)
        ],
    )
    codes = [
        (
            F.array_position(F.col(f"__d{s}"), F.array_min(F.col(f"__d{s}"))) - 1
        ).cast("int")
        for s in range(m)
    ]
    cols = [F.col("id"), F.array(*codes).alias("codes")]
    if with_recon2:
        recon2 = None
        for s in range(m):
            t = F.array_min(F.col(f"__d{s}"))
            recon2 = t if recon2 is None else recon2 + t
        cols.append(recon2.alias("recon2"))
    return staged.select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k_neighbors: int = 5,
    m: int = 4,
    k: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC) over
    PQ codes: the query keeps its full vector; every corpus vector is
    m codes, and its approximate squared L2 distance is a sum of m
    lookup-table entries LUT[s][code_s] = ||q_s - cent_s[code]||^2.

    Plan shape: encode (one corpus scan, zero shuffle) -> crossJoin a
    BROADCAST of the bounded query set carrying its m*k-entry LUT as an
    array column (the op-sim-search / knn shape) -> per-row distance is
    an m-term fold of element_at lookups (no vector arithmetic on the
    corpus side at all — that is ADC's point: the scan touches m ints
    per row, not dim floats) -> window top-k per query on
    (approx distance, neighbor id).

    Approximation is quantization-bounded, not probabilistic; the gate
    (op-pq-topk) measures recall against the exact top-k universe with
    floors, the ivf_topk pattern."""
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            return _empty_result(
                corpus, "query_id {id}, neighbor_id {id}, rank int", [id_col]
            )
        dim = int(first["d"])
    d_sub = dim // m
    cents = _pq_centroids(corpus, id_col, vec_col, k, dim)
    if cents.size == 0:
        return _empty_result(
            corpus, "query_id {id}, neighbor_id {id}, rank int", [id_col]
        )
    codes = pq_encode(corpus, id_col, vec_col, m=m, k=k, dim=dim, cents=cents)
    qv = _checked_vec(F.col(vec_col).cast("array<double>"), dim, "pq_adc")
    # flat LUT: entry s*k_eff + j = squared distance from the query's
    # s-th subvector to centroid j's s-th subvector (concat of m
    # transforms — the query side is bounded, so the wide expression
    # rides on few rows). STRIDE = the ACTUAL codebook size: a corpus
    # smaller than the requested k yields fewer sampled centroids, and
    # striding by the request would index past the LUT (caught by the
    # adversarial-corpus sweep — element_at out of bounds on a
    # 12-vector corpus with k=16).
    k_eff = cents.shape[0]
    lut = F.concat(
        *[_pq_subspace_dists(qv, cents, s, d_sub) for s in range(m)]
    )
    q = queries.select(F.col(id_col).alias("query_id"), lut.alias("lut"))
    k_lit = F.lit(k_eff)
    approx = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, s: F.element_at(F.col("lut"), (s * k_lit + code + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = codes.crossJoin(F.broadcast(q)).select(
        "query_id", F.col("id").alias("neighbor_id"), approx.alias("adist")
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )
