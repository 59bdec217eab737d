"""Relational batch 18 — one-pass distributed model fitting (SURVEY.md
§2.9 analytics extensions).

The reference engine (/root/reference/proj-eng-dados/main.py) stops at
descriptive aggregation; a training-data pipeline also needs cheap
MODEL fitting over corpus statistics — e.g. calibrating a document-
quality regressor against a labeled signal — at a scale where anything
but a one-pass sufficient-statistics reduction is off the table.

``stats.linear_fit`` is that operator: X'X / X'y / y'y / n in ONE
map-combined aggregation (exact DECIMAL sums — partitioning- and
engine-independent), then an exact-rational K x K solve on the driver.
Gating strategy:

- op-linear-regression pins the COEFFICIENTS as oracle literals: the
  target is constructed exactly linear in the features with binary-
  fraction coefficients, and the exact-rational solve recovers them
  EXACTLY at any scale factor. The per-feature X'y column is
  recomputed by DuckDB from the raw documents table with the identical
  decimal casts, so the distributed aggregation itself is hash-pinned,
  not just the solve.
- op-ridge-regression exercises the l2 path. Ridge coefficients are
  data-dependent (no literal), so the gate pins the exact X'y stats
  plus two invariants that are theorems, not tolerances: the exact
  solve satisfies its own penalized normal equations (normal_eq_ok),
  and ||b_ridge||2 < ||b_ols||2 strictly when l2 > 0 and b_ols != 0
  (norm_shrunk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import stats
from .queries import _t, query

# the generating model for the gate target: y = 1.5 + 2*f1 - 0.25*f2
# + 0.5*f3 over integer text statistics — every coefficient is a binary
# fraction, so the target column is EXACT in double and on the 0.001
# decimal grid linear_fit sums on.
_B0, _B1, _B2, _B3 = 1.5, 2.0, -0.25, 0.5

# identical arithmetic in Spark and DuckDB: codepoint length and
# occurrence counts via length-difference (no regex dialect risk)
_ORACLE_FEATURES = """
        SELECT length(text)                                    AS f1,
               length(text) - length(replace(text, ' ', ''))   AS f2,
               length(text) - length(replace(text, 'e', ''))   AS f3
        FROM documents WHERE text IS NOT NULL
"""


def _doc_features(spark: SparkSession, sf_dir: str):
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    f1 = F.length("text")
    f2 = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    f3 = F.length("text") - F.length(F.regexp_replace("text", "e", ""))
    y = (
        F.lit(_B0)
        + F.lit(_B1) * f1
        + F.lit(_B2) * f2
        + F.lit(_B3) * f3
    )
    feats = [("f1", f1), ("f2", f2), ("f3", f3)]
    return docs, feats, y


def _oracle_xty(expr: str) -> str:
    """The DuckDB twin of linear_fit's exact decimal X'y sum."""
    return (
        "CAST(SUM(CAST(" + expr + " AS DECIMAL(18,0))"
        " * CAST(1.5 + 2*f1 - 0.25*f2 + 0.5*f3 AS DECIMAL(18,3))) AS DOUBLE)"
    )


@query(
    "op-linear-regression",
    oracle=f"""
    WITH f AS ({_ORACLE_FEATURES})
    SELECT feature,
           CASE WHEN n_rows > 0 THEN coef END AS coef, xty, n_rows,
           CASE WHEN n_rows > 0 THEN CAST(1.0 AS DOUBLE) END AS r2,
           CAST(CASE WHEN n_rows > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS normal_eq_ok
    FROM (
      SELECT '__intercept__' AS feature, 1.5 AS coef,
             {_oracle_xty('1')} AS xty,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM f
      UNION ALL
      SELECT 'f1', 2.0, {_oracle_xty('f1')},
             CAST(count(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'f2', -0.25, {_oracle_xty('f2')},
             CAST(count(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'f3', 0.5, {_oracle_xty('f3')},
             CAST(count(*) AS BIGINT) FROM f
    )
    """,
)
def q_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-linear-regression: fit y ~ 1 + f1 + f2 + f3 over per-document
    text statistics with stats.linear_fit (one exact-decimal pass +
    exact-rational solve). The target is exactly linear by construction,
    so OLS recovers the generating coefficients EXACTLY (coef literals
    in the oracle), r2 is exactly 1, and the X'y column hash-pins the
    distributed aggregation against DuckDB's identical decimal sums."""
    docs, feats, y = _doc_features(spark, sf_dir)
    return stats.linear_fit(docs, feats, y)


@query(
    "op-ridge-regression",
    oracle=f"""
    WITH f AS ({_ORACLE_FEATURES})
    SELECT feature, xty, n_rows,
           CAST(CASE WHEN n_rows > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS normal_eq_ok,
           CAST(CASE WHEN n_rows > 0 THEN 1 END AS INTEGER) AS norm_shrunk
    FROM (
      SELECT '__intercept__' AS feature, {_oracle_xty('1')} AS xty,
             CAST(count(*) AS BIGINT) AS n_rows FROM f
      UNION ALL
      SELECT 'f1', {_oracle_xty('f1')}, CAST(count(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'f2', {_oracle_xty('f2')}, CAST(count(*) AS BIGINT) FROM f
      UNION ALL
      SELECT 'f3', {_oracle_xty('f3')}, CAST(count(*) AS BIGINT) FROM f
    )
    """,
)
def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-ridge-regression: the l2 > 0 path of stats.linear_fit on the
    same design. Coefficients are data-dependent (not literal-able), so
    the gate pins the exact X'y stats plus two exact-arithmetic
    theorems: the rational solve satisfies its penalized normal
    equations, and the ridge solution norm strictly shrinks vs OLS."""
    docs, feats, y = _doc_features(spark, sf_dir)
    ols = stats.linear_fit(docs, feats, y, l2=0.0)
    ridge = stats.linear_fit(docs, feats, y, l2=1.0e6)
    # SLOPE-only norms: with the intercept unpenalized, ridge is
    # equivalent to centered ridge on the slopes + b0 = ybar - xbar'b,
    # so ||slopes_ridge|| < ||slopes_ols|| is the theorem — the full
    # vector is NOT (the intercept grows toward ybar as slopes shrink).
    # Both frames are K rows; the comparison is a broadcast of two
    # 1-row aggregates.
    slopes = F.col("feature") != "__intercept__"
    n_ols = ols.filter(slopes).agg(
        F.sum(F.col("coef") * F.col("coef")).alias("n2_ols")
    )
    n_ridge = ridge.filter(slopes).agg(
        F.sum(F.col("coef") * F.col("coef")).alias("n2_ridge")
    )
    gate = n_ols.crossJoin(n_ridge).select(
        (F.col("n2_ridge") < F.col("n2_ols")).cast("int").alias("norm_shrunk")
    )
    return ridge.select("feature", "xty", "n_rows", "normal_eq_ok").crossJoin(
        F.broadcast(gate)
    )


# =====================================================================
# Product quantization (similarity.pq_encode / pq_adc_topk)
# =====================================================================
#
# The DuckDB oracles REPLICATE the engine bit-for-bit rather than gate
# on invariants: the codebook is an md5-ordered corpus sample (md5 is
# identical SQL in both engines, unlike xxhash64), subspace distances
# are sequential left-fold sums of exact double ops (Spark F.aggregate
# == DuckDB list_reduce — same element order, same IEEE results), and
# ties break on (distance, centroid index) / (distance, neighbor id)
# in both. So codes and ADC ranks are hash-exact, not tolerance-gated.

_PQ_CENT = """
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid, embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16
"""

# squared L2 between subvectors [s*16+1 .. s*16+16] of two float lists,
# summed in list order (sequential fold), all arithmetic in DOUBLE
def _pq_subdist_sql(a: str, b: str) -> str:
    return f"""list_reduce(list_transform(
        list_zip({a}[s.s*16+1 : s.s*16+16], {b}[s.s*16+1 : s.s*16+16]),
        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
             * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
        (a, b) -> a + b)"""


_PQ_CODES = f"""
    cent AS ({_PQ_CENT}),
    sub AS (SELECT * FROM (VALUES (0), (1), (2), (3)) s(s)),
    cdist AS (
      SELECT e.vec_id, s.s, c.cid,
             {_pq_subdist_sql('e.embedding', 'c.embedding')} AS d
      FROM embeddings e, cent c, sub s
    ),
    codes AS (
      SELECT vec_id, s, CAST(cid AS INT) AS code FROM cdist
      QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
    )
"""


@query(
    "op-pq-encode",
    oracle=f"""
    WITH {_PQ_CODES}
    SELECT vec_id AS id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes
    FROM codes GROUP BY vec_id
    """,
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-pq-encode: product-quantize the embedding corpus — 64 floats
    per row become 4 codes (one nearest-codebook-centroid index per
    16-dim subspace), the 64x memory compression that makes
    billion-vector ANN RAM-resident. One scan, zero shuffle, zero
    Python; the oracle replays the identical codebook sample, distance
    folds, and argmin tie-breaks in SQL, so every code is hash-pinned
    (operators/similarity.py pq_encode)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    codes = similarity.pq_encode(emb, "vec_id", "embedding", m=4, k=16)
    return codes.select(
        "id",
        F.concat_ws(
            "-", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes"),
    )


@query(
    "op-pq-topk",
    oracle=f"""
    WITH {_PQ_CODES},
    q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 8),
    qlut AS (
      SELECT q.qid, s.s, c.cid,
             {_pq_subdist_sql('q.embedding', 'c.embedding')} AS d
      FROM q, cent c, sub s
    ),
    adist AS (
      SELECT l.qid, x.vec_id AS nid,
             list_reduce(list(l.d ORDER BY l.s), (a, b) -> a + b) AS ad
      FROM codes x JOIN qlut l ON l.s = x.s AND l.cid = x.code
      GROUP BY l.qid, x.vec_id
    )
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY ad, nid)
             AS INTEGER) AS rank
    FROM adist WHERE nid != qid
    QUALIFY rank <= 5
    """,
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-pq-topk: asymmetric-distance top-5 per query over PQ codes —
    the corpus scan touches 4 ints per row (table lookups into the
    query's 64-entry LUT), never the 64 floats; that is the ADC scan
    shape that serves billion-vector ANN from RAM. The oracle replays
    the whole path (codebook, codes, LUT, 4-term ordered fold, tie
    order) in SQL — ranks are hash-exact, and PQ's approximation
    quality is gated separately by op-pq-quality
    (operators/similarity.py pq_adc_topk)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        k_neighbors=5, m=4, k=16,
    )


@query(
    "op-pq-quality",
    oracle="""
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 8)
                * (SELECT count(*) FROM embeddings) AS BIGINT) AS n_pairs,
           CAST(1 AS INTEGER) AS triangle_ok,
           CAST(1 AS INTEGER) AS adc_near_opt_ok
    """,
)
def q_pq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-pq-quality: MEASURE the PQ approximation against the exact
    distances it replaces, over every (query, corpus) pair.

    Two gates, BOTH theorems (a recall-vs-random floor was tried first
    and failed honestly at sf1: the sf1 replica repeats the corpus into
    near-clone families, the exact top-5 become clones that coarse
    m=4/k=16 codes cannot order among themselves, and set-overlap
    recall collapses to 0 even though every returned neighbor is
    distance-near-optimal — exactly the metric the theorem gate reads):

    - triangle_ok — ADC distance is ||q - recon(x)||, so the L2
      triangle inequality bounds it within the reconstruction error:
      | sqrt(adist) - ||q-x|| | <= ||x - recon(x)|| for EVERY pair
      (1e-9 fp headroom on the sqrt scale). This is exact-arithmetic
      truth about the encode+ADC pair, not an empirical tolerance —
      any lookup-table indexing bug, wrong-subspace slice, or code/
      centroid mismatch breaks it immediately.
    - adc_near_opt_ok — the quantized-search guarantee: for EVERY
      query, the ADC argmin's TRUE distance is within 2x the max
      reconstruction error of the true-nearest distance,
      sqrt(ex(adc_pick)) <= sqrt(ex(true_1)) + 2 * max_x ||x-recon(x)||.
      Proof: ad(pick) <= ad(true_1) by argmin, and the triangle bound
      sandwiches each ad within its recon error of the exact distance.
      Holds on any corpus at any scale — clone-degenerate or not.

    Fully in-plan: codes + recon2 in one scan (pq_encode with_recon2),
    pairs via crossJoin(broadcast(8 queries)), exact distance as a
    JVM fold over the full vectors, top-5 windows on (dist, id) both
    sides (operators/similarity.py pq_encode / pq_adc_topk)."""
    from .operators import similarity
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    m, k, dim, kn = 4, 16, 64, 5
    d_sub = dim // m
    out_schema = "n_pairs bigint, triangle_ok int, adc_near_opt_ok int"
    cents = similarity._pq_centroids(emb, "vec_id", "embedding", k, dim)
    if cents.size == 0:
        # empty corpus: zero pairs, both theorems vacuously true — the
        # same row the oracle's count(*)-products produce
        return spark.createDataFrame([(0, 1, 1)], out_schema)
    k_eff = cents.shape[0]  # actual codebook size (see pq_adc_topk)
    enc = similarity.pq_encode(
        emb, "vec_id", "embedding", m=m, k=k, dim=dim, cents=cents,
        with_recon2=True,
    )
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    side = enc.join(vecs, "id")
    qv = F.col("embedding").cast("array<double>")
    lut = F.concat(
        *[similarity._pq_subspace_dists(qv, cents, s, d_sub) for s in range(m)]
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), lut.alias("lut"), qv.alias("qv")
    )
    k_lit = F.lit(k_eff)
    adist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, s: F.element_at(
                F.col("lut"), (s * k_lit + code + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = side.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        adist.alias("ad"),
        exact.alias("ex"),
        F.col("recon2"),
    )
    tri_viol = (
        F.abs(F.sqrt(F.col("ad")) - F.sqrt(F.col("ex")))
        - F.sqrt(F.col("recon2"))
        > 1e-9
    )
    nonself = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    w_ad = Window.partitionBy("query_id").orderBy(
        F.col("ad").asc(), F.col("neighbor_id").asc()
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("ex").asc(), F.col("neighbor_id").asc()
    )
    ranked = nonself.select(
        "query_id",
        F.col("ex"),
        F.row_number().over(w_ad).alias("r_ad"),
        F.row_number().over(w_ex).alias("r_ex"),
    )
    # per-query: true-nearest exact distance and the ADC pick's exact
    # distance (both sqrt scale), gated against 2x the max recon error
    per_q = ranked.filter((F.col("r_ad") == 1) | (F.col("r_ex") == 1)).groupBy(
        "query_id"
    ).agg(
        F.min(F.when(F.col("r_ad") == 1, F.sqrt(F.col("ex")))).alias("d_adc"),
        F.min(F.when(F.col("r_ex") == 1, F.sqrt(F.col("ex")))).alias("d_true"),
    )
    max_e = enc.agg(F.max(F.sqrt(F.col("recon2"))).alias("max_e"))
    near_opt = per_q.crossJoin(F.broadcast(max_e)).agg(
        F.min(
            (
                F.col("d_adc") <= F.col("d_true") + 2 * F.col("max_e") + 1e-9
            ).cast("int")
        ).alias("all_near_opt")
    )
    tri = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max(tri_viol.cast("int")).alias("any_viol"),
    )
    return tri.crossJoin(F.broadcast(near_opt)).select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        # coalesce = vacuous truth: zero pairs/queries means zero
        # violations (the all-empty sweep exercises this)
        (1 - F.coalesce(F.col("any_viol"), F.lit(0)))
        .cast("int").alias("triangle_ok"),
        F.coalesce(F.col("all_near_opt"), F.lit(1))
        .cast("int").alias("adc_near_opt_ok"),
    )


@query(
    "op-grouped-regression",
    oracle=f"""
    WITH f AS (
        SELECT lang,
               length(text)                                    AS f1,
               length(text) - length(replace(text, ' ', ''))   AS f2,
               length(text) - length(replace(text, 'e', ''))   AS f3
        FROM documents WHERE text IS NOT NULL
    ),
    per AS (
      SELECT lang, 1.5 AS coef, '__intercept__' AS feature,
             {_oracle_xty('1')} AS xty, CAST(count(*) AS BIGINT) AS n_rows
      FROM f GROUP BY lang
      UNION ALL
      SELECT lang, 2.0, 'f1', {_oracle_xty('f1')},
             CAST(count(*) AS BIGINT) FROM f GROUP BY lang
      UNION ALL
      SELECT lang, -0.25, 'f2', {_oracle_xty('f2')},
             CAST(count(*) AS BIGINT) FROM f GROUP BY lang
      UNION ALL
      SELECT lang, 0.5, 'f3', {_oracle_xty('f3')},
             CAST(count(*) AS BIGINT) FROM f GROUP BY lang
    )
    SELECT lang, feature,
           CASE WHEN n_rows >= 4 THEN coef END AS coef, xty, n_rows,
           CASE WHEN n_rows >= 4 THEN CAST(1.0 AS DOUBLE) END AS r2,
           CAST(CASE WHEN n_rows >= 4 THEN 1 ELSE 0 END AS INTEGER)
             AS normal_eq_ok
    FROM per
    """,
)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-grouped-regression: one OLS model PER LANGUAGE over the same
    text-statistics design (stats.grouped_linear_fit) — per-domain
    calibration with zero driver state: one grouped exact-decimal
    aggregation, then exact-rational solves inside applyInPandas over
    the |langs|-row stats frame. The generating model is global, so
    every group recovers the SAME binary-fraction coefficients exactly
    (oracle literals). Degeneracy-aware gate: n < K(=4) forces a
    singular X'X — a THEOREM (rank <= n) — so such groups carry NULL
    coef / normal_eq_ok=0 in BOTH engines (the adversarial-corpus
    sweep's 1-doc languages exercise this); for n >= K full rank is
    the generator contract (varied texts), the same assumption the
    flat op-linear-regression oracle makes. Per-group X'y sums and
    row counts are
    recomputed by DuckDB per language."""
    docs, feats, y = _doc_features(spark, sf_dir)
    return stats.grouped_linear_fit(docs, "lang", feats, y)
