"""LLM training-corpus curation pipeline — the capstone composition of the
extension operators (SURVEY.md §2.9): language filter → quality filter →
exact dedup → near-dup cluster dedup → curated corpus.

This is the pipeline a training-data team actually runs at 100 TB, built
entirely from the already-tested operators:

    documents
      → langid            (keep target language; row-local, zero shuffle)
      → quality_score     (keep score >= threshold; row-local)
      → fingerprint       (exact dedup: one groupBy on the 64-bit-ish
                           rolling hash — survivors keep min doc_id)
      → near-dup pairs    (exact n-gram Jaccard, or MinHash LSH on the
                           scale path — see `scale_path`)
      → connected_components (A~B, B~C collapse to ONE survivor even when
                           A~C was never emitted)
      → representative filter (keep component min)

Shuffle accounting at scale: filters ride the scan; exact dedup is one
hash-partition on fingerprint; the near-dup stage is the two-shuffle
Jaccard join (or the banded LSH join on the scale path); component
labeling is one shuffle per propagation round (near-dup components are
tiny cliques, so rounds ≈ 2-3). Nothing materializes on the driver.

The stage order is deliberate: cheap row-local filters FIRST (they cut
the corpus before any shuffle), exact dedup SECOND (collapses identical
payloads before the quadratic-risk near-dup join), near-dup LAST over the
smallest possible survivor set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    decontaminate,
    dedup_lines,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    tokens_expr,
)
from ..operators.text import (
    fingerprint_col,
    langid_cols,
    pii_clean_col,
    quality_col,
)
from ..session import fan_out
from .pipeline import Pipeline, Stage


def curate(
    docs: DataFrame,
    quality_min: float = 0.8,
    lang: str = "en",
    jaccard_threshold: float = 0.5,
    scale_path: bool = False,
    redact_pii: bool = False,
    line_max_df: int | None = None,
    decontam_eval: DataFrame | None = None,
    decontam_n: int = 4,
    near_dup_max_bucket: int | None = None,
) -> DataFrame:
    """Curated survivors of `docs` (all original columns kept).

    `scale_path=False` verifies near-dups with the exact n-gram Jaccard
    join (oracle-checkable); `scale_path=True` swaps in MinHash LSH —
    identical downstream semantics, linear candidate volume at 100 TB
    (unit tests pin LSH recall = 1.0 vs the exact pairs on this corpus).

    Optional full-curation stages (each oracle-checked standalone):
    - `redact_pii`: fold PII scrubbing into the filter projection — FREE
      (row-local, same single pass).
    - `line_max_df`: boilerplate line removal BEFORE any dedup (shared
      chunks would otherwise glue unrelated docs into near-dup pairs);
      costs dedup_lines' three shuffles + one join-back on doc_id.
    - `decontam_eval`: drop docs sharing any `decontam_n`-gram with the
      eval frame — LAST, over the smallest survivor set (broadcast probe).
    - `near_dup_max_bucket` (scale_path only): LSH bucket-size cap — the
      skew guard against a degenerate band bucket going quadratic. Exact
      dedup runs FIRST here, so oversized buckets mean near-identical-but-
      not-equal boilerplate; at 100 TB set this (e.g. 1000) and let
      line-dedup own that text instead.
    """
    exact_survivors = curate_prefix(
        docs,
        quality_min=quality_min,
        lang=lang,
        redact_pii=redact_pii,
        line_max_df=line_max_df,
    )

    if scale_path:
        pairs = minhash_lsh_pairs(
            exact_survivors, "doc_id", "text", n=3,
            threshold=jaccard_threshold, max_bucket=near_dup_max_bucket,
        )
    else:
        pairs = ngram_jaccard_pairs(
            exact_survivors, "doc_id", "text", n=3, threshold=jaccard_threshold
        )
    return curate_neardup_tail(
        exact_survivors, pairs,
        decontam_eval=decontam_eval, decontam_n=decontam_n,
    )


def curate_prefix(
    docs: DataFrame,
    quality_min: float = 0.8,
    lang: str = "en",
    redact_pii: bool = False,
    line_max_df: int | None = None,
) -> DataFrame:
    """The pre-pair prefix of :func:`curate` — PII scrub + lang/quality
    filter + optional boilerplate line-dedup + fingerprint exact dedup —
    returning the checkpointed exact-dedup survivor frame. Factored out
    (r8) so the op-corpus-curate-full gate computes it ONCE and feeds
    both near-dup tails.

    Every pre-pair metric (language, quality, fingerprint, PII scrub) is
    row-local, so the whole filter phase is ONE scan-and-project — no
    per-metric scan + semi-join (the naive composition of the df-level
    ops cost 3 scans + 3 shuffles and measured ~4x slower at sf0.1).
    """
    #
    # TOKEN MATERIALIZATION (the r4→r5 plan-build fix): the lang/quality
    # metrics each reference the token array inside several lambdas, and
    # CollapseProject inlines whatever expression produced it into EVERY
    # reference — with tokenize (and optionally the PII regex chain)
    # inlined per lambda, Catalyst analysis/optimization of the filter
    # phase alone cost seconds of DRIVER time per action (r4 bench:
    # op-corpus-curate 5.15 s, ~80% plan-build). Tokenizing ONCE into
    # `__toks` behind a lazy-checkpoint barrier makes every downstream
    # reference a plain attribute: the lambdas stay tiny, analysis is
    # linear in phase count, and the one extra materialization (text +
    # tokens) is data the dedup phases were about to re-derive anyway.
    # At 100 TB the same holds: the checkpoint is executor-local storage,
    # and plan-build stays a small per-job constant instead of growing
    # with every metric added to the filter phase.
    src = fan_out(docs)
    if redact_pii:
        src = src.withColumn("text", pii_clean_col("text"))
    tok = src.withColumn("__toks", tokens_expr("text")).localCheckpoint(eager=False)
    lang_c, _rate = langid_cols("text", toks=F.col("__toks"))
    ann = (
        tok
        .withColumn("__lang", lang_c)
        .withColumn("__quality", quality_col("text", toks=F.col("__toks")))
        .filter((F.col("__lang") == lang) & (F.col("__quality") >= quality_min))
        .drop("__lang", "__quality", "__toks")
    )

    if line_max_df is not None:
        cleaned = dedup_lines(
            ann, "doc_id", "text", max_df=line_max_df
        ).select("doc_id", F.col("clean_text").alias("text"))
        # join-back keeps the non-text columns (source, lang, ...) without
        # widening dedup_lines' shuffles with every payload column.
        # Checkpoint the result: the line-dedup tree (chunk transform +
        # collect_list reassembly) composed under the fingerprint fold and
        # 64-seed MinHash transforms pushes Catalyst ANALYSIS into the tens
        # of seconds on the driver, re-paid at every downstream action
        # (measured: 33-40s build for the full capstone, exec 1s). The
        # truncation makes downstream plans build on a LogicalRDD.
        ann = ann.drop("text").join(cleaned, "doc_id").localCheckpoint(eager=False)

    # exact dedup: min doc_id per rolling-hash fingerprint survives — a
    # single window shuffle on the fingerprint (no groupBy + join-back).
    # localCheckpoint, NOT persist: this frame feeds the near-dup join AND
    # the final anti-join, and its analyzed plan (filters + PII + line-dedup
    # + fingerprint fold) is enormous — a persist would park that whole tree
    # in the CacheManager, where every later action pays plan-canonicalization
    # against it (measured: repeated curate()/curate-full() calls in one
    # session degraded 2s -> 28s). Checkpointing truncates the cached entry
    # to a LogicalRDD; blocks free when the frame is GC'd.
    w = Window.partitionBy("__fp")
    exact_survivors = (
        ann.withColumn("__fp", fingerprint_col("text"))
        .withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .drop("__fp", "__min_id")
        .localCheckpoint(eager=False)
    )
    return exact_survivors


def curate_neardup_tail(
    exact_survivors: DataFrame,
    pairs: DataFrame,
    decontam_eval: DataFrame | None = None,
    decontam_n: int = 4,
) -> DataFrame:
    """The post-pair suffix of :func:`curate`: near-dup pairs →
    connected components → keep component minima → optional benchmark
    decontamination. Factored out (r8) so op-corpus-curate-full can run
    the SAME tail once with MinHash-LSH pairs and once with exact
    Jaccard pairs over one shared prefix, and gate the two survivor sets
    against each other (LSH ⊆ exact pairs ⇒ exact-path survivors ⊆
    LSH-path survivors, extras ≤ missed pairs — see the query)."""
    comps = connected_components(pairs, "id_a", "id_b")
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    out = exact_survivors.join(losers, "doc_id", "left_anti")

    if decontam_eval is not None:
        flags = decontaminate(out, decontam_eval, "doc_id", "text", n=decontam_n)
        out = out.join(
            flags.filter(F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    return out


def build_corpus_pipeline(
    sf_dir: str,
    out_dir: str,
    quality_min: float = 0.8,
    lang: str = "en",
    scale_path: bool = True,
) -> Pipeline:
    """The curation flow as a fail-fast Pipeline (op-pipeline-run shape):
    one stage reading the documents table, curating (scale path by
    default), and landing the curated corpus as source-partitioned
    parquet — the same stage contract as the gastos medallion plan."""
    import os

    def read(spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def transform(df: DataFrame) -> DataFrame:
        return curate(
            df, quality_min=quality_min, lang=lang, scale_path=scale_path
        )

    def write(df: DataFrame) -> None:
        df.write.mode("overwrite").partitionBy("source").parquet(out_dir)

    return Pipeline(stages=[Stage("curate", read, transform, write=write)])
