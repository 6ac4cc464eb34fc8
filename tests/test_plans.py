"""Physical-plan contracts — the plans, not just the answers, are the
product (SURVEY §4): filters must reach the parquet scan, projections must
prune columns, top-k must plan as a bounded heap, the index build must
have exactly ONE wide exchange, and no row-at-a-time Python may appear in
any JVM path. These tests freeze those properties so a refactor that
silently degrades a plan fails CI the way a wrong answer would."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olaf_spark import entry_queries as eq
from olaf_spark.config import EngineConfig
from olaf_spark.indexer import (
    SEGMENT_SCHEMA,
    _make_pack_stage1,
    bucket_expr,
    token_occurrences_df,
)
from olaf_spark.scorer import bm25_topk_adhoc
from olaf_spark.synth import gen_pages

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def test_filter_and_projection_push_to_scan(spark):
    p = plan(eq.QUERIES["scan_filter_project"](spark, SF))
    assert "PushedFilters: [IsNotNull(lang)" in p
    assert "EqualTo(lang,en)" in p
    # column pruning: only the 3 referenced columns reach the reader
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in p
    assert "WholeStageCodegen" in plan_codegen(spark, eq.QUERIES["scan_filter_project"](spark, SF))


def plan_codegen(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    return df._jdf.queryExecution().explainString(mode)


def test_topk_plans_as_bounded_heap(spark):
    # AdhocIndex.topk IS the lazy plan bm25_topk_adhoc executes (the public
    # fn now materializes its <=k rows so its cache can be released —
    # plan contracts are asserted on the underlying builder)
    from olaf_spark.scorer import AdhocIndex

    ix = AdhocIndex(spark, eq._docs(spark, SF))
    try:
        p = plan(ix.topk("spark join window", k=10))
        assert "TakeOrderedAndProject" in p  # bounded top-k heap, never a full sort
    finally:
        ix.unpersist()


def test_bm25_adhoc_path_has_no_python(spark):
    """The distributed query path is 100% JVM: query terms enter as an isin
    predicate + CASE WHEN idf literals, no UDF of any kind."""
    from olaf_spark.scorer import AdhocIndex

    ix = AdhocIndex(spark, eq._docs(spark, SF))
    try:
        p = plan(ix.topk("spark join window", k=10))
        assert "BatchEvalPython" not in p     # row-at-a-time Python UDF
        assert "ArrowEvalPython" not in p     # pandas UDF
        assert "MapInPandas" not in p
        assert "Join" not in p                # no posting join: predicate + literals
    finally:
        ix.unpersist()


def test_build_stage1_single_exchange(spark):
    """The whole stage-1 pipeline (tokenize -> explode -> term_id -> bucket
    -> pack) contains exactly ONE shuffle. Three exchanges here (tf groupBy,
    doc_len window, bucket repartition) was a measured 1.7x build slowdown."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    cfg = EngineConfig()
    pf = token_occurrences_df(docs, "text", "doc_id", cfg)
    b = bucket_expr(F.col("doc_id"), 0, 1 << 58, 8)
    seg = (
        pf.repartition(8, b, F.col("term_id"))
        .sortWithinPartitions("term_id", "doc_id")
        .mapInArrow(_make_pack_stage1(0, 1 << 58, 8), SEGMENT_SCHEMA)
    )
    import re

    p = plan(seg)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_exchanges == 1, p
    assert "BatchEvalPython" not in p
    assert "MapInArrow" in p  # the single vectorized pack step


def test_top_terms_per_lang_has_no_join(spark):
    """lang rides the tokenize projection (selected before the explode) —
    the occurrence×docs join back on doc_id would re-shuffle the full corpus
    of token rows for a column the scan already had."""
    p = plan(eq.QUERIES["top_terms_per_lang"](spark, SF))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert op not in p, p


def test_build_rejects_empty_corpus(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 0")
    from olaf_spark.indexer import build_index

    with pytest.raises(ValueError, match="empty"):
        build_index(spark, docs.select("doc_id", "text"), str(tmp_path / "ix"), EngineConfig())


def test_query_index_honors_config_knobs(spark, tmp_path):
    """k=None -> cfg.max_results; min_score thresholds the result set
    (Olaf maxResults / minMatchCount analogues, olaf_config.c:89-100)."""
    from olaf_spark.indexer import build_index
    from olaf_spark.wand import query_index

    docs = gen_pages(spark, 60, seed=9).select("doc_id", "text")
    cfg = EngineConfig(max_results=7)
    ix = build_index(spark, docs, str(tmp_path / "ixk"), cfg, n_buckets=2)
    full = query_index(spark, ix, "w1 w2 w3", k=None)
    assert len(full) == 7
    theta = full[3][1]  # score of rank-4: threshold must keep exactly ranks 1-4
    got = query_index(spark, ix, "w1 w2 w3", k=None, min_score=theta)
    assert got == full[:4]


def test_serving_reads_no_spark_jobs(spark, tmp_path):
    """Query serving never launches a Spark job (Olaf opens LMDB read-only,
    olaf_runner.c:34-39): the pyarrow path must answer with the Spark UI
    job count unchanged."""
    from olaf_spark.indexer import build_index
    from olaf_spark.wand import query_index

    docs = gen_pages(spark, 80, seed=5).select("doc_id", "text")
    ix = build_index(spark, docs, str(tmp_path / "ix"), EngineConfig(), n_buckets=2)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    query_index(spark, ix, "w1 w2 w300", k=5)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
