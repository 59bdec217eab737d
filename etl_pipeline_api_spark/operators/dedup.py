"""Deduplication operators (SURVEY.md §2.9 / BASELINE.json north star).

Not in the reference (it has no dedup at all — SURVEY §2.7); these are the
LLM-training-data operators the north star requires, each designed for the
100 TB shape first:

- exact_dedup:        hash groupBy on the key (or all columns) — one shuffle
  on the dedup key, min-id representative kept. No window, no sort.
- ngram_jaccard_pairs: shingle → explode → self-equi-join on shingle →
  count/union arithmetic. The shuffle key is the shingle; hot shingles are
  the skew risk, so `max_df` drops shingles that occur in more than N docs
  (stop-shingle removal — standard MinHash-pipeline practice) before the
  join. Exact Jaccard, no LSH approximation.
- minhash_lsh_pairs:  spark.ml MinHashLSH over HashingTF shingle vectors —
  the sub-quadratic scale path (band-bucket join via approxSimilarityJoin).
- simhash:            64-bit SimHash from xxhash64 token hashes via 64
  conditional aggregations — one groupBy per corpus, no pairwise work;
  near-dups are hamming-close fingerprints (join on band equality).
- embedding near-dups: see similarity.cosine_pairs (threshold variant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """op-dedup-exact: one representative row id (min id) per duplicate group.

    groupBy-min instead of Window(row_number): partial aggregation combines
    map-side, so the shuffle carries ~|groups| rows, not |rows|.
    """
    return df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))


def tokens_expr(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def ngrams_expr(toks, n: int):
    """Word n-grams as zip_with over n shifted slices of the token array.

    WHY this shape: the obvious `transform(sequence(...), i ->
    concat_ws(element_at(toks, i), element_at(toks, i+1), ...))` references
    the token array PER ELEMENT, and Catalyst's project collapsing inlines
    whatever expression produced `toks` into every one of those references
    — when `toks` is a split() (or sits on a PII-regex chain), that is
    O(len²) re-tokenization per row. Measured on shingle_sets at sf0.1:
    15.9s -> 0.9s from this rewrite. zip_with references the array exactly
    n times (once per slice), so even a fully-inlined plan evaluates the
    producing expression a CONSTANT number of times per row.

    Docs with < n tokens yield an empty array (DuckDB generate_series
    semantics — also dodges Spark's descending sequence(1, 0) surprise).
    """
    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, j + 1, m) for j in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-document distinct word n-gram shingle SET: (__id, shs array, n_sh).

    Dedup happens row-locally via array_distinct — NO shuffle at all; the
    set size rides along with the row, so downstream Jaccard math never
    needs a separate sizes aggregation (one fewer shuffle + two fewer joins
    than the naive explode→distinct→groupBy-count shape). n-grams are the
    constant-reference zip_with form (see ngrams_expr)."""
    from ..session import fan_out

    toks_df = fan_out(df).select(
        F.col(id_col).alias("__id"), tokens_expr(text_col).alias("__toks")
    )
    return toks_df.select(
        "__id", F.array_distinct(ngrams_expr(F.col("__toks"), n)).alias("shs")
    ).withColumn("n_sh", F.size("shs"))


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exploded distinct shingles per document: (__id, shingle, n_sh).

    explode_outer + null-filter instead of explode: plain explode triggers
    InferFiltersFromGenerate, whose ``size(shs) > 0`` predicate gets pushed
    below the fan-out exchange and re-evaluates the ENTIRE shingle build
    single-threaded on the scan side (measured ~10x slowdown at sf0.1).
    """
    return (
        shingle_sets(df, id_col, text_col, n)
        .select("__id", F.explode_outer("shs").alias("shingle"), "n_sh")
        .filter(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """op-dedup-fuzzy (exact variant): pairs with shingle-set Jaccard >=
    threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Scale shape: set sizes ride along with each exploded shingle row
    (shingle_sets), so the whole op is exactly TWO shuffles — the shingle
    equi-join and the pair aggregation. Shingles are xxhash64'd to int64
    BEFORE the join: the equi-join shuffle carries 8-byte keys instead of
    ~20-byte 3-gram strings and compares longs, measured ~30% faster
    end-to-end; a hash collision would need two distinct shingles in the
    same doc pair (P ~ 2^-64 per pair — negligible; results are verified
    identical to string-keyed joins by the DuckDB oracle). `max_df` removes
    shingles present in more than `max_df` docs (join-explosion guard for
    hot shingles; Jaccard of surviving pairs is then computed on the
    filtered sets). Leave None for oracle-exact semantics.
    """
    sh = (
        shingle_sets(df, id_col, text_col, n)
        .select(
            "__id",
            "n_sh",
            F.explode_outer(
                F.transform("shs", lambda s: F.xxhash64(s))
            ).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle").count().filter(F.col("count") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
        # recompute per-doc sizes on the surviving shingles
        sh = sh.withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("__id"))
        )
    a = sh.select(F.col("__id").alias("id_a"), "shingle", F.col("n_sh").alias("na"))
    b = sh.select(F.col("__id").alias("id_b"), "shingle", F.col("n_sh").alias("nb"))
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("na")).alias("na"),
            F.any_value(F.col("nb")).alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    band_rows: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """op-dedup-fuzzy (scale path): MinHash + banded LSH candidate pairs,
    verified with EXACT Jaccard on the shingle sets. Pure DataFrame ops —
    no MLlib vector conversion, no approxSimilarityJoin (which explodes
    signatures on both join sides; replacing it measured ~9x faster at
    sf0.1).

    Shape, stage by stage (the 100 TB story):
    - signatures are row-local: ``array_min(transform(shs, xxhash64(s, i)))``
      per hash function — K array traversals inside whole-stage codegen,
      ZERO shuffle to build signatures;
    - banding: each doc emits num_hashes/band_rows (band, xxhash64(band
      slice)) keys; the self-equi-join on the band key is the only
      quadratic-risk step and it shuffles |docs|×bands rows, never
      all-pairs;
    - verification: candidate pairs join back to the shingle sets and
      compute exact Jaccard via ``array_intersect`` — precision 1.0 by
      construction, recall = 1-(1-j^r)^b (r=2, b=16 at the defaults:
      ~99% for j>=0.5, 99.9% at j>=0.6; raise num_hashes for stricter
      recall floors).

    Returns (id_a, id_b, jaccard_approx) with id_a < id_b — the jaccard is
    exact on surviving pairs; the _approx name reflects candidate recall.

    ``max_bucket`` is the SKEW GUARD for the banded self-join: a band value
    shared by B docs yields B^2/2 candidate pairs, so one degenerate bucket
    (empty-ish docs, boilerplate) can reintroduce the quadratic blowup the
    banding exists to avoid. Buckets larger than the cap are dropped before
    the join (one extra count-aggregate on the SAME key as the join — it
    co-partitions, no extra shuffle pattern). The trade is explicit: pairs
    whose every shared band is oversized are lost, which for dedup means
    "a >max_bucket-sized near-identical cluster" — exactly the boilerplate
    case handled by line_dedup/exact dedup upstream. Default None keeps
    exact parity with the uncapped oracle.
    """
    sets = minhash_signature_sets(df, id_col, text_col, n=n, num_hashes=num_hashes)
    return minhash_lsh_pairs_from_sets(
        sets,
        threshold=threshold,
        num_hashes=num_hashes,
        band_rows=band_rows,
        max_bucket=max_bucket,
    )


def minhash_signature_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Shared prefix of the MinHash pipeline: (__id, hshs, n_sh, sig),
    locally checkpointed. Factored out of :func:`minhash_lsh_pairs` (r8)
    so harnesses that band the SAME ``num_hashes`` signature several ways
    (op-lsh-tuning's band_rows ∈ {2,4,8}) parse shingles and compute the
    K signature passes ONCE instead of once per config — the signature is
    a pure function of (corpus, n, num_hashes), not of the banding.

    Shingle strings are xxhash64'd to int64 ONCE, inside the frame that
    gets checkpointed: the K per-seed signature passes mix 8-byte longs
    instead of re-hashing ~20-byte strings K times (same trick as
    ngram_jaccard_pairs' join keys; collision analysis there). The
    exact-Jaccard verification intersects the int64 arrays too — smaller
    shuffle payload, long compares instead of string compares.

    Checkpointed once (NOT persist): feeds the signature/band branch AND
    both sides of the verification join. localCheckpoint truncates the
    shingle-transform plan so the CacheManager never canonicalizes it on
    later actions (see plans/corpus.py exact_survivors for the measured
    session-degradation this avoids); disk-backed blocks spill like
    MEMORY_AND_DISK.

    Single evaluation of the shingle xxhash64 transform (the checkpoint
    sits AFTER the K signature expressions since the r8 factoring) is
    guaranteed not by the checkpoint but by CollapseProject's
    refusal to merge Projects when a NON-CHEAP expression is referenced
    more than once (SPARK-36718): `hshs` is a higher-order transform
    referenced by all K signature expressions, so Catalyst keeps it as
    its own Project instead of inlining the hash into every reference.
    That is an optimizer heuristic, not a contract — the guard below
    (:func:`_assert_single_shingle_eval`, a Catalyst node-walk run once
    per session) pins it so a Spark-version behavior change fails loudly
    here (a K-times-inlined plan would be a silent K-fold recompute of
    the shingle hashing) instead of as a perf regression.
    """
    sets = shingle_sets(df, id_col, text_col, n).filter(F.size("shs") > 0).select(
        "__id",
        F.transform("shs", lambda s: F.xxhash64(s)).alias("hshs"),
        "n_sh",
    )
    # NB: the transform lambda must take ONE arg — pyspark passes the array
    # index to a second parameter, which would make hashes position-dependent
    # (breaking set semantics: 0/64 signature agreement on a 0.99-Jaccard
    # pair when this was `lambda s, i=i: ...`).
    def _hash_fn(seed: int):
        return lambda h: F.xxhash64(h, F.lit(seed))

    sig = F.array(*[
        F.array_min(F.transform(F.col("hshs"), _hash_fn(i)))
        for i in range(num_hashes)
    ])
    out = sets.select("__id", "hshs", "n_sh", sig.alias("sig"))
    # CollapseProject guard (see docstring): an inlined plan nests the
    # shingle transform inside each signature transform — that shape
    # must never reach execution.
    _assert_single_shingle_eval(out)
    return out.localCheckpoint(eager=False)


# applicationId -> True once the optimized-plan shape has been verified in
# that session. The pinned property is an OPTIMIZER heuristic (constant per
# Spark version/session config), so one verification per session suffices —
# re-running queryExecution().optimizedPlan() on every call would re-pay a
# full Catalyst analyze+optimize of the whole upstream subtree per
# invocation.
_SHINGLE_GUARD_OK: dict[str, bool] = {}


def _jseq(seq):
    """Iterate a py4j-wrapped Scala Seq."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _expr_has_nested_transform(jexpr, inside_transform: bool = False) -> bool:
    """True if an ArrayTransform appears anywhere INSIDE another
    ArrayTransform in this (Java) expression tree. Walks the actual
    Catalyst nodes, so it is immune to the plan-STRING truncation
    (SparkStringUtils "Truncated the string representation of a plan")
    that made the old `"transform(transform(" in plan.toString()` test
    able to silently pass on exactly the large plans it was built to
    police (VERDICT r9 task 2)."""
    is_transform = jexpr.getClass().getSimpleName() == "ArrayTransform"
    if is_transform and inside_transform:
        return True
    inside = inside_transform or is_transform
    return any(
        _expr_has_nested_transform(c, inside)
        for c in _jseq(jexpr.children())
    )


def _plan_has_nested_transform(jplan) -> bool:
    """Walk every node of a (Java) logical plan and every expression tree
    on each node, looking for transform-inside-transform."""
    if any(
        _expr_has_nested_transform(e) for e in _jseq(jplan.expressions())
    ):
        return True
    return any(
        _plan_has_nested_transform(c) for c in _jseq(jplan.children())
    )


def _assert_single_shingle_eval(out: DataFrame) -> None:
    """Pin CollapseProject's refusal to inline the non-cheap shingle-hash
    transform into the K signature transforms (SPARK-36718 — see the
    minhash_signature_sets docstring). RuntimeError, not `assert`:
    python -O strips asserts, and this guard exists precisely for
    deployments nobody is watching."""
    app_id = out.sparkSession.sparkContext.applicationId
    if _SHINGLE_GUARD_OK.get(app_id):
        return
    jplan = out._jdf.queryExecution().optimizedPlan()
    if _plan_has_nested_transform(jplan):
        raise RuntimeError(
            "minhash_signature_sets: Catalyst inlined the shingle-hash "
            "transform into the signature expressions (CollapseProject "
            "behavior change?) — re-insert a localCheckpoint on the hshs "
            "projection to restore single evaluation."
        )
    _SHINGLE_GUARD_OK.clear()  # keep one live session's entry only
    _SHINGLE_GUARD_OK[app_id] = True


def jaccard_pairs_from_sets(sets: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard pairs derived from a
    :func:`minhash_signature_sets` frame — the same (id_a, id_b, jaccard)
    rows as ``ngram_jaccard_pairs(max_df=None)`` over the same corpus.

    Equivalence: the sets frame's ``hshs`` IS the per-doc distinct
    xxhash64'd shingle set ngram_jaccard_pairs explodes (same
    array_distinct, same hash keying — collision analysis there), and
    ``n_sh`` the same pre-filter set size; docs with empty shingle sets
    contribute no exploded rows on either path (explode of an empty
    array vs explode_outer + null-filter). The pair arithmetic below is
    the byte-identical tail of ngram_jaccard_pairs.

    Why it exists (r12 optimization round, guide §2.4 "remove shuffles
    outright"/"share one exchange"): recall-gated queries that need BOTH
    the exact pair set and the MinHash pipeline (op-dedup-minhash,
    op-lsh-tuning) were tokenizing + shingling the corpus twice — once
    inside ngram_jaccard_pairs, once inside minhash_signature_sets.
    Deriving the exact pairs from the already-checkpointed sets frame
    makes the shingle build ONE corpus pass shared by both paths (at
    100 TB the shingle build is a full-corpus scan + per-row n-gram
    transform — the dominant pre-join cost)."""
    sh = sets.select(
        F.col("__id"), F.col("n_sh"), F.explode("hshs").alias("shingle")
    )
    a = sh.select(F.col("__id").alias("id_a"), "shingle", F.col("n_sh").alias("na"))
    b = sh.select(F.col("__id").alias("id_b"), "shingle", F.col("n_sh").alias("nb"))
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("na")).alias("na"),
            F.any_value(F.col("nb")).alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs_from_sets(
    sets: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    band_rows: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banding + candidate join + exact-Jaccard verification over a
    precomputed :func:`minhash_signature_sets` frame — the per-config
    suffix of :func:`minhash_lsh_pairs` (semantics documented there).
    ``num_hashes`` must match the signature length in ``sets``."""
    n_bands = num_hashes // band_rows
    bands = (
        sets.select(F.col("__id"), F.col("sig"))
        .select(
            "__id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * band_rows + r] for r in range(band_rows)]
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ])
            ).alias("bv"),
        )
        .select("__id", "bv.band", "bv.bh")
    )
    if max_bucket is not None:
        ok = (
            bands.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "bh")
        )
        bands = bands.join(ok, ["band", "bh"])
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bh"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("__id").alias("id_a"), F.col("hshs").alias("shs_a"), F.col("n_sh").alias("na"))
    sb = sets.select(F.col("__id").alias("id_b"), F.col("hshs").alias("shs_b"), F.col("n_sh").alias("nb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard_approx",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard_approx") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_approx", 4).alias("jaccard_approx"))
    )


def connected_components(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 20
) -> DataFrame:
    """Cluster near-dup pairs into connected components: (node, component)
    where component = min node id reachable. Iterative min-label
    propagation: each round joins labels across edges and keeps the min;
    stops when no label changes. Near-dup graphs have tiny components, so
    rounds ~ O(log max-component-diameter) — each round is one shuffle.

    (At true 100 TB scale with huge components, switch to the alternating
    large-star/small-star algorithm; the round structure is the same.)

    Iteration hygiene (the part that actually bites): edges are persisted
    ONCE up front, and each round's labels are localCheckpoint(eager)ed —
    persist alone is NOT enough for an iterative plan: it caches data but
    keeps the whole lineage, so (a) every convergence check replays the
    upstream pipeline (shingle join, Jaccard verification, ...) and
    (b) the analyzed plan tree grows per round until merely *printing* it
    OOMs the driver when a caller composes on the result. localCheckpoint
    truncates the plan to a LogicalRDD each round, so the loop is
    O(rounds) and the returned frame composes like a base table.
    """
    # localCheckpoint, not persist: the incoming `pairs` plan can be a full
    # MinHash/Jaccard pipeline — persisting would park that tree in the
    # CacheManager and tax every subsequent action's plan lookup (and each
    # CC round is an action). The checkpoint also means the per-round joins
    # below build on a LogicalRDD, not the pair pipeline.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # candidate labels via neighbors (qualified names — self-join lineage)
        e, l = edges.alias("e"), labels.alias("l")
        neighbor_labels = e.join(
            l, F.col("e.dst") == F.col("l.node")
        ).select(F.col("e.src").alias("node"), F.col("l.component").alias("component"))
        # one distributed job per round: the min-label merge CARRIES the
        # convergence flag (min(component) vs the incumbent own-label, which
        # rides along as a (node, own) pair) into the checkpoint, so the
        # `changed` probe afterwards scans the materialized round locally
        # instead of scheduling a second join job
        own = labels.select(
            "node", F.col("component").alias("own"),
        )
        merged = (
            own.select("node", F.col("own").alias("component"), "own")
            .unionByName(
                neighbor_labels.withColumn(
                    "own", F.lit(None).cast(dict(labels.dtypes)["component"])
                )
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("own").alias("own"),  # the single non-null incumbent
            )
            .localCheckpoint(eager=True)  # materialize round, truncate plan
        )
        changed = merged.filter(F.col("component") != F.col("own")).limit(1).count()
        labels = merged.select("node", "component")
        if changed == 0:
            break
    return labels


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """op-dedup-simhash: 64-bit SimHash fingerprint per document.

    Token hashes via xxhash64 (JVM-side); bit j of the fingerprint is the
    sign of sum(+1/-1 over tokens' bit j). Implementation is explode +
    ONE groupBy with 64 conditional sums — a single shuffle keyed on the
    doc id, no pairwise comparisons. Near-dup retrieval then joins on
    fingerprint bands (e.g. 4x16-bit) — hamming-close docs collide.

    No DuckDB oracle: xxhash64 has no DuckDB twin (rows-only check).
    """
    from ..session import fan_out

    tok = fan_out(df).select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_expr(text_col)).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = tok.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(1 << j) if j < 63 else F.lit(-(1 << 63))).otherwise(F.lit(0)))
        for j in range(bits)
    )
    return bit_sums.select(F.col("__id").alias(id_col), fp.alias("simhash"))


def simhash_band_candidates(
    fp_df: DataFrame,
    id_col: str,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: equal 16-bit band of the simhash (hamming
    distance <= n_bands-1 guarantees a shared band). Join is on (band_idx,
    band_value) — linear shuffle, not quadratic.

    ``max_bucket`` is the same skew guard as ``minhash_lsh_pairs``: a band
    value shared by B fingerprints emits B^2/2 pairs, and on templated
    corpora whole clusters collapse onto one 16-bit band value, which
    reintroduces the quadratic blowup (measured: 46x docs raw candidates on
    the sf0.1 documents table, vs 4.7x with the guard). Oversized buckets
    are dropped before the self-join via one count-aggregate on the SAME
    (band, val) key — co-partitions with the join, no new shuffle pattern.
    Pairs whose every shared band is oversized are lost; those are
    >max_bucket near-identical clusters, the exact-dedup/line-dedup case,
    and the recall gate in op-dedup-simhash measures the loss."""
    band_w = 64 // n_bands
    bands = fp_df.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), i * band_w)
                    .bitwiseAND(F.lit((1 << band_w) - 1)).alias("val"),
                )
                for i in range(n_bands)
            ])
        ).alias("bv"),
    ).select("__id", "simhash", "bv.band", "bv.val")
    if max_bucket is not None:
        bands = (
            bands.withColumn(
                "__bn", F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
            )
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # both self-join sides consume `bands`; without the checkpoint the
    # whole upstream — including any Python-eval fingerprint source
    # (op-multimodal-neardup's Arrow decode) and the bucket-guard window
    # — evaluates once PER SIDE (Catalyst dedupes exchanges, not
    # arbitrary subtrees; measured 4 Python-eval + 4 Window nodes in the
    # final plan, halved by the LogicalRDD). ~30 bytes/band-row.
    bands = bands.localCheckpoint(eager=False)
    a = bands.select(F.col("__id").alias("id_a"), F.col("simhash").alias("fp_a"), "band", "val")
    b = bands.select(F.col("__id").alias("id_b"), F.col("simhash").alias("fp_b"), "band", "val")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"))
        .distinct()
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ANY word n-gram
    with an evaluation set (the standard contamination filter before
    pretraining — an eval doc leaked into the corpus, or a near-copy of one,
    must not be trained on).

    Scale shape: eval shingles are DISTINCT-ed and broadcast (eval suites are
    thousands of docs, not billions — the asymmetry is the whole design);
    the training side streams through one hash-semi-join probe against the
    broadcast set, so the only aggregation shuffle is the per-doc flag
    rollup. Shingles are xxhash64'd to 8-byte keys as in
    ``ngram_jaccard_pairs`` (collision P ~ 2^-64 per doc pair — negligible).
    Returns train rows as (id, contaminated boolean).
    """
    def hashed(df: DataFrame) -> DataFrame:
        return (
            shingle_sets(df, id_col, text_col, n)
            .select(
                "__id",
                F.explode_outer(
                    F.transform("shs", lambda s: F.xxhash64(s))
                ).alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
        )

    ev = hashed(eval_df).select("shingle").distinct()
    hits = (
        hashed(train_df)
        .join(F.broadcast(ev), "shingle", "left_semi")
        .select("__id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        train_df.select(F.col(id_col))
        .join(hits.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk: int = 10,
    max_df: int = 1,
) -> DataFrame:
    """Boilerplate line removal (the CCNet/RefinedWeb line-level dedup):
    drop text chunks that appear in more than ``max_df`` documents (nav
    bars, cookie banners, licence blurbs), keeping document order.

    The corpus here has no newlines, so a "line" is a ``chunk``-token
    window (position-aligned, non-overlapping) — swap the chunker for
    split('\\n') on real web text; everything downstream is unchanged.

    Scale shape (r13 — the guide §8 rule: every shuffle but the last
    moves a lightweight proxy, never the payload): line text NEVER
    crosses an exchange. Each doc keeps its chunk array as a row-local
    column; only (id, pos, xxhash64(line)) rows — 8-byte keys — feed the
    document-frequency groupBy; the hot hash set (df > max_df, the
    boilerplate set, small relative to the corpus by definition) marks
    hot POSITIONS per doc, a tiny (id, array<pos>) frame that joins back
    to the array-carrying side (broadcast at real scale — it holds only
    boilerplate-carrying docs); the clean text is rebuilt by a row-local
    positional array filter. The earlier shape reassembled every doc
    with groupBy(id) + collect_list + array_sort — the entire corpus
    payload through one exchange (and Catalyst duplicated the
    chunk/explode subtree into the frequency branch, so the corpus was
    tokenized twice AND shuffled once; now it is tokenized twice —
    hash branch + rebuild branch, both exchange-free on payload — and
    shuffled never). State is bounded by lines-per-doc. Returns
    (id, clean_text, n_kept, n_lines) for every input doc
    (pure-boilerplate docs come back with clean_text = '').
    """
    from ..session import fan_out

    toks_df = fan_out(df).select(
        F.col(id_col).alias("__id"), tokens_expr(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    n_lines = F.ceil(F.size(toks) / F.lit(chunk)).cast("int")
    lines_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # tokenize + chunk ONCE into executor-local blocks (the curate_prefix
    # token-materialization precedent): three consumers below — document
    # frequency, hot-position marking, and the rebuild projection — would
    # otherwise each re-expand the scan+tokenize+chunk subtree (Catalyst
    # reuses exchanges, not arbitrary subtrees; measured 3 corpus scans).
    # SERIALIZED storage, not the default deserialized MEMORY_AND_DISK:
    # this block set is corpus-sized (every chunk string of every doc),
    # and deserialized Java strings cost 2-3x their UTF-8 bytes on heap —
    # at sf1 in a multi-query session the fat blocks OOM'd an 8g heap
    # (measured: op-corpus-curate sf1 check, task heap-space failure);
    # serialized blocks hold compact bytes and spill to disk instead.
    from pyspark import StorageLevel

    base = toks_df.select(
        "__id", lines_arr.alias("__lines")
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    # proxy rows: (id, pos, line-hash) — the only thing that shuffles
    hashes = base.select(
        "__id", F.posexplode("__lines").alias("pos", "line")
    ).select("__id", "pos", F.xxhash64("line").alias("lh"))
    hot = (
        hashes.groupBy("lh")
        .agg(F.count_distinct("__id").alias("line_docs"))
        .filter(F.col("line_docs") > max_df)
        .select("lh")
    )
    hot_pos = (
        hashes.join(hot, "lh")
        .groupBy("__id")
        .agg(F.collect_set("pos").alias("__hot_pos"))
    )
    hp = F.coalesce(F.col("__hot_pos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__lines"), lambda line, i: ~F.array_contains(hp, i)
    )
    return base.join(hot_pos, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
        F.size("__lines").cast("long").alias("n_lines"),
    )


def span_dup_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Per-document duplicated-span fraction: of a doc's rolling word
    n-gram spans (counted WITH multiplicity, unlike the shingle *sets*
    the Jaccard path uses), how many occur in at least one OTHER
    document. This is the doc-level signal behind substring-level train
    dedup (the "what fraction of this page is boilerplate copied across
    the crawl" score): rank by ``dup_frac`` and drop or re-weight.

    Returns ``(id_col, n_spans, n_dup, dup_frac)`` for EVERY input doc
    (zero-span docs report 0 / 0 / 0.0).

    Scale shape: three linear shuffles, no quadratic path —
    (1) distinct (doc, span-hash) pairs → per-hash doc-frequency
        (map-side combined), keeping only hashes with df ≥ 2;
    (2) span rows join that dup-hash set on the 8-byte xxhash64 key
        (spans carried as hashes, never strings, across the wire);
    (3) per-doc count/sum, map-side combined. A pathologically common
        span fans out only its own rows (the join is per-position, one
        output row per position — never pair-producing).
    """
    from ..session import fan_out

    grams = fan_out(df).select(
        F.col(id_col).alias("__id"),
        ngrams_expr(tokens_expr(text_col), n).alias("__grams"),
    )
    spans = grams.select(
        "__id",
        F.size("__grams").alias("n_spans"),
        F.explode_outer(
            F.transform("__grams", lambda g: F.xxhash64(g))
        ).alias("gh"),
    )
    dup = (
        spans.select("__id", "gh")
        .filter(F.col("gh").isNotNull())
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("gh", F.lit(True).alias("__dup"))
    )
    per_doc = (
        spans.join(dup, "gh", "left")
        .groupBy("__id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup").cast("long"), F.lit(0))).alias(
                "n_dup"
            ),
        )
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_dup").cast("long").alias("n_dup"),
        F.round(
            F.when(F.col("n_spans") > 0, F.col("n_dup") / F.col("n_spans"))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("dup_frac"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """op-containment-dedup: near-SUPERSET pairs by shingle containment
    C(a,b) = |S(a)∩S(b)| / min(|S(a)|,|S(b)|) — the asymmetric score
    symmetric Jaccard structurally misses: a document quoted whole
    inside a 10× larger one has J ≈ 0.1 but C = 1.0. LLM-corpus dedup
    needs both (MinHash/Jaccard for near-identical pairs, containment
    for embedded copies — the Broder resemblance/containment split).

    Same two-shuffle shape as ``ngram_jaccard_pairs`` (shared-shingle
    equi-join on xxhash64'd int64 keys with set sizes riding along, one
    pair aggregation), same ``max_df`` hot-shingle guard bounding the
    candidate mass to O(max_df · corpus). Emits (id_a, id_b, inter,
    n_small, n_big, containment, jaccard) with id_a < id_b — jaccard
    rides along so a consumer can split "embedded copy" (high C, low J)
    from "near-identical" (both high) without a second pass.
    """
    sh = shingles(df, id_col, text_col, n).withColumn(
        "shingle", F.xxhash64("shingle")
    )
    if max_df is not None:
        rare = (
            sh.groupBy("shingle").count().filter(F.col("count") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle").withColumn(
            "n_sh", F.count(F.lit(1)).over(Window.partitionBy("__id"))
        )
    a = sh.select(F.col("__id").alias("id_a"), "shingle", F.col("n_sh").alias("na"))
    b = sh.select(F.col("__id").alias("id_b"), "shingle", F.col("n_sh").alias("nb"))
    scored = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("na")).alias("na"),
            F.any_value(F.col("nb")).alias("nb"),
        )
        .withColumn("n_small", F.least("na", "nb"))
        .withColumn("n_big", F.greatest("na", "nb"))
        .withColumn("containment", F.col("inter") / F.col("n_small"))
    )
    return (
        scored.filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("n_small").cast("long").alias("n_small"),
            F.col("n_big").cast("long").alias("n_big"),
            F.round("containment", 4).alias("containment"),
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )
