"""Plan lints over EVERY registry query: the structural rules that keep the
engine scale-safe must hold for the whole surface, not just the queries
someone remembered to .explain() by hand.

Rules:
- no row-at-a-time Python (BatchEvalPython) anywhere — Python only as
  Arrow-batched stages (ArrowEvalPython / MapInPandas / FlatMapGroups*);
- no CartesianProduct — cross joins are only legal against broadcast
  literals (they compile to BroadcastNestedLoopJoin);
- every documents/lineitem parquet scan prunes columns (ReadSchema must not
  list the full table width when the query touches a subset);
- the flagship extraction is ONE Python stage and no shuffle beyond the
  optional input spread.
"""

import re

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entry_mod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df, spark) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_lints(name, spark):
    plan = _plan(QUERIES[name](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_column_pruning_reaches_scan(spark):
    """Spot-check pruning on the widest tables: a projection of 2 lineitem
    columns must not scan all 11."""
    q = QUERIES["tpch_pricing_summary"](spark, SF_DIR)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", _formatted(q, spark))
    assert schemas, "no parquet scan found"
    for s in schemas:
        ncols = len([c for c in s.split(",") if ":" in c])
        assert ncols <= 6, f"lineitem scan reads {ncols} columns: {s}"

    q2 = QUERIES["langid_heuristic"](spark, SF_DIR)
    schemas2 = re.findall(r"ReadSchema: struct<([^>]*)", _formatted(q2, spark))
    assert schemas2, "no parquet scan found"
    for s in schemas2:
        assert "source" not in s, f"documents scan reads unused column: {s}"


def test_ivf_index_computed_once(spark):
    """INDEX/QUERY split, inline path: the executed plan of ann_ivf_topk
    must contain exactly ONE corpus×centroid join (probe selection is a
    driver-side 1-row lookup, not a second full-corpus cross join)."""
    from deepseek_ocr_spark.operators.similarity import ann_ivf_topk

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(ann_ivf_topk(df))
    n_cross = plan.count("BroadcastNestedLoopJoin")
    assert n_cross == 1, f"expected 1 corpus×centroid join, plan has {n_cross}"


def test_ivf_registry_query_reads_materialized_index(spark):
    """Deployment shape: the REGISTRY/bench query builds the index up front
    and the query-time plan READS it — zero corpus×centroid joins in the
    measured plan, index served from the cached table."""
    q = QUERIES["similarity_ann_ivf"](spark, SF_DIR)
    plan = _plan(q)
    # the index is an eagerly-checkpointed RDD: the query plan SCANS it
    # (ExistingRDD) and contains no corpus×centroid build join at all
    assert "ExistingRDD" in plan, "materialized assignments not read from checkpoint"
    assert "BroadcastNestedLoopJoin" not in plan, (
        "query-time plan still builds the index inline"
    )


def test_extract_pipeline_is_one_python_stage(spark):
    """extract_documents adds exactly one MapInPandas to its input's plan
    (split → extract → fold per document), no scalar Arrow UDF hop, and no
    exchange: the registry query's only Exchange is the input spread of its
    driver-table derivation (which has its own MapInPandas, to_html)."""
    from deepseek_ocr_spark.entry_queries import docs_from_driver_table

    plan = _plan(QUERIES["extract_pipeline"](spark, SF_DIR))
    source = _plan(docs_from_driver_table(spark, SF_DIR))
    assert plan.count("MapInPandas") == source.count("MapInPandas") + 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
