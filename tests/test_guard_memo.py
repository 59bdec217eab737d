"""Round-10 hardening tests (VERDICT r9 task 2, ADVICE r9):

1. The CollapseProject guard in operators/dedup.py is now a Catalyst
   NODE-WALK (immune to plan-string truncation), raises RuntimeError
   (survives python -O), and runs once per session (no per-call
   analyze+optimize of the whole upstream subtree).
2. op-bpe-encode's totals are pinned to 0 (not NULL) on degenerate
   corpora, matching the DuckDB oracle's coalesce.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_pipeline_api_spark.operators import dedup as D  # noqa: E402


def _arr_df(spark):
    # array built from a COLUMN so ConstantFolding can't collapse the
    # transforms away before the walker sees them
    return spark.range(3).select(
        F.array(F.col("id").cast("string")).alias("arr")
    )


def _nested_frame(spark):
    return _arr_df(spark).select(
        F.transform(
            F.transform("arr", lambda s: F.xxhash64(s)),
            lambda h: F.xxhash64(h, F.lit(1)),
        ).alias("x")
    )


# ---------------------------------------------------------------- guard

def test_walker_detects_nested_transform(spark):
    jplan = _nested_frame(spark)._jdf.queryExecution().optimizedPlan()
    assert D._plan_has_nested_transform(jplan)


def test_walker_accepts_sibling_transforms(spark):
    flat = _arr_df(spark).select(
        F.transform("arr", lambda s: F.xxhash64(s)).alias("a"),
        F.transform("arr", lambda s: F.length(s)).alias("b"),
    )
    jplan = flat._jdf.queryExecution().optimizedPlan()
    assert not D._plan_has_nested_transform(jplan)


def test_guard_raises_even_when_plan_strings_truncate(spark):
    """The r9 guard grepped optimizedPlan().toString() — which Spark
    truncates on large plans, silently passing exactly when it matters.
    The node-walk must detect the inlined shape with string rendering
    crippled to 1 field."""
    D._SHINGLE_GUARD_OK.clear()
    old = spark.conf.get("spark.sql.debug.maxToStringFields")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1")
    try:
        with pytest.raises(RuntimeError, match="inlined the shingle-hash"):
            D._assert_single_shingle_eval(_nested_frame(spark))
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", old)
    # a FAILED check must not cache an OK for the session
    assert not D._SHINGLE_GUARD_OK


def test_signature_sets_guard_passes_and_caches_per_session(spark):
    D._SHINGLE_GUARD_OK.clear()
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(6)],
        ["doc_id", "text"],
    )
    D.minhash_signature_sets(docs, "doc_id", "text")  # must not raise
    app_id = spark.sparkContext.applicationId
    assert D._SHINGLE_GUARD_OK.get(app_id) is True
    # cached: a second call skips the optimizedPlan walk entirely — pin
    # by making the walk impossible to satisfy and checking no raise
    orig = D._plan_has_nested_transform
    D._plan_has_nested_transform = lambda _p: (_ for _ in ()).throw(
        AssertionError("guard re-ran the plan walk on a cached session")
    )
    try:
        D.minhash_signature_sets(docs, "doc_id", "text")
    finally:
        D._plan_has_nested_transform = orig


# ----------------------------------------------------- bpe degenerate

def _bpe_dir(tmp_path_factory, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("bpe_fuzz")
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["t"] * len(texts), pa.string()),
        "n_chars": pa.array(
            [len(t) if t else 0 for t in texts], pa.int64()
        ),
    })
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("texts", [
    [None, "", "   ", "the cat the cat", "a  b\tc"],  # mixed pathologies
    [None, None],                                      # all-NULL corpus
    ["", "   ", "\t"],                                 # word-free corpus
])
def test_bpe_encode_degenerate_corpus_matches_oracle(
    spark, tmp_path_factory, texts
):
    import duckdb

    import __spark_entry__ as m

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_correctness import canon

    d = _bpe_dir(tmp_path_factory, texts)
    spdf = m.queries()["op-bpe-encode"](spark, d).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet')"
        )
        dpdf = con.sql(m.oracle_sql()["op-bpe-encode"]).df()
    finally:
        con.close()
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert canon(spdf) == canon(dpdf)
