"""Physical-plan shape assertions: the plans we designed for are the
plans Catalyst actually produces (broadcast where intended, pushdown
reaching the scan, no Python in JVM-only paths, no stray shuffles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdfmef_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_customer_dim(spark):
    plan = _plan(Q.catalog()["q3_shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    plan = _plan(Q.catalog()["q5_region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q1_filter_pushed_to_scan(spark):
    df = Q.catalog()["q1_pricing_summary"](spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    scan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    assert "l_comment" not in optimized  # no such column read anywhere


def test_q1_column_pruning(spark):
    """Scan must read only the 6 referenced columns, not the whole table."""
    df = Q.catalog()["q1_pricing_summary"](spark, SF_DIR)
    scan_line = next(
        line for line in _plan(df).splitlines() if "ReadSchema" in line
    )
    for col in ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]:
        assert col in scan_line
    for col in ["l_orderkey", "l_partkey", "l_suppkey", "l_tax"]:
        assert col not in scan_line


def test_anti_join_is_broadcast(spark):
    plan = _plan(Q.catalog()["customers_without_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_dedup_exact_is_two_phase_agg(spark):
    """hash-groupBy dedup must show partial aggregation before the exchange."""
    plan = _plan(Q.catalog()["dedup_exact_documents"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_textstats_jvm_only_single_projection(spark):
    """The text-stats profile must be one JVM projection over the scan:
    no Python eval, no shuffle. (Higher-order array functions evaluate in
    an interpreted Project, so the codegen star `*(n)` only wraps the
    scan — the invariant that matters is zero Python and zero Exchange.)"""
    from pdfmef_spark.operators import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textstats.document_profile(docs))
    assert "Python" not in plan
    assert "Exchange" not in plan
    assert plan.count("Project") == 1
    assert "*(1)" in plan  # scan side still codegen'd


def test_extract_stage_no_exchange(spark, smoke_pages):
    from pdfmef_spark.operators import extract

    plan = _plan(extract.extract_pages(smoke_pages))
    assert "Exchange" not in plan  # pure map stage
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan


def test_brute_force_topk_no_big_side_shuffle(spark):
    """Query side broadcast; the embeddings side must not hash-exchange
    before scoring (only the window partitioning by q_id shuffles)."""
    from pdfmef_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plan = _plan(similarity.brute_force_topk(emb, queries, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_candidate_pairs_single_groupby_shuffle(spark):
    """All three blocking families (LSH bands, last-token, two-token
    prefix) ride ONE groupBy exchange + one distinct — not one exchange
    per family (round-2 unification, linking._bucket_pairs_capped)."""
    from pdfmef_spark.operators import linking
    from pyspark.sql import functions as F

    keys = spark.createDataFrame(
        [("PERSON", f"fn{i % 9} ln{i}", 1) for i in range(200)],
        "type string, surface string, freq int",
    ).withColumn("norm", F.col("surface"))
    plan = (
        linking.candidate_pairs(keys)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly: the (type, norm) signature min-aggregate (Catalyst folds
    # the norms-distinct into its partial phase), ONE (type, bkey)
    # exchange shared by the window cap AND the member collect_set
    # (same partitioning — no second shuffle), pairs-distinct. The
    # pre-unification shape re-ran the norms-distinct subtree and a
    # groupBy per family: 7 exchanges.
    assert plan.count("Exchange hashpartitioning") == 3, plan[:2000]


def test_pagerank_iteration_plan_shape(spark):
    """One PageRank iteration: the contribution aggregate must be
    two-phase (map-side partials absorb hub fan-in before the shuffle),
    and the only nested-loop joins are broadcast singletons (the 1-row
    dangling-mass / node-count cross joins) — never a real cartesian."""
    import pandas as pd

    from pdfmef_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": ["a", "b", "c"], "dst": ["b", "c", "a"]})
    )
    # checkpoint_every=0 keeps the full lineage visible for inspection
    # (the default eagerly checkpoints the result, leaving only a scan)
    plan = _plan(pagerank(edges, iterations=1, checkpoint_every=0))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    # singleton cross joins ride broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in plan


def test_q19_disjunction_pushed_to_dim_scan(spark):
    """The OR-of-ANDs predicate must split: part-only disjuncts reach
    the part scan as a pushed Or filter; the join stays a single
    broadcast hash join (no per-disjunct union of fact scans)."""
    df = Q.catalog()["disjunctive_brand_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 1
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l and "p_brand" in l]
    assert scan_lines and "Or(" in scan_lines[0]


def test_q18_join_back_broadcasts_aggregate(spark):
    """The HAVING-filtered aggregate (a few hundred keys) must be the
    broadcast side of the join back to orders."""
    plan = _plan(Q.catalog()["big_order_customers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_deterministic_sample_is_pushed_scan_filter(spark):
    """Sampling must be a filter over the scan — no shuffle, no sample
    operator (the plan a 100 TB holdout split needs)."""
    plan = _plan(Q.catalog()["doc_deterministic_sample"](spark, SF_DIR))
    assert "Sample" not in plan
    assert "Filter" in plan
    # the only exchange allowed is the final presentation orderBy
    assert plan.count("Exchange rangepartitioning") <= 1
    assert "Exchange hashpartitioning" not in plan
