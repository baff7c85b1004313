"""Full pipeline + resume semantics + graph sanity."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from pdfmef_spark import pipeline as P
from pdfmef_spark.sources import store


@pytest.fixture(scope="module")
def run(spark, smoke_pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    return P.run_pipeline(spark, smoke_pages, out, run_id="t1")


def test_all_stages_present(run):
    assert set(run.results) == set(P.STAGES)
    assert all(r.recomputed for r in run.results.values())


def test_graph_sanity(spark, run):
    nodes = run.df("nodes")
    edges = run.df("edges")
    n_nodes = nodes.count()
    assert n_nodes > 0
    # entity ids unique
    assert nodes.select("entity_id").distinct().count() == n_nodes
    # every edge endpoint resolves to a node
    ids = nodes.select(F.col("entity_id").alias("id"))
    dangling = (
        edges.join(ids, edges.src == ids.id, "left_anti").count()
        + edges.join(ids, edges.dst == ids.id, "left_anti").count()
    )
    assert dangling == 0
    # hub entity exists (canonical = whichever alias is most frequent at
    # this sf) and is heavily mentioned
    aliases = ["Global Web Consortium", "Global Web", "The Global Web Consortium"]
    hub = nodes.filter(F.col("canonical").isin(aliases)).collect()
    assert len(hub) == 1 and hub[0].n_mentions >= 30


def test_alias_cluster_merged(spark, run):
    """The three hub aliases must collapse into ONE node (whichever alias
    wins the canonical vote, the other two must not appear)."""
    nodes = run.df("nodes")
    aliases = ["Global Web Consortium", "Global Web", "The Global Web Consortium"]
    assert nodes.filter(F.col("canonical").isin(aliases)).count() == 1


def test_resume_skips_completed_stages(spark, smoke_pages, run):
    r2 = P.run_pipeline(spark, smoke_pages, run.out_dir, run_id="t2")
    assert all(not r.recomputed for r in r2.results.values())


def test_resume_after_partial_kill(spark, smoke_pages, run, tmp_path_factory):
    """Simulate a kill after 'triples': downstream manifests absent ->
    only downstream recomputes; upstream content untouched."""
    out2 = str(tmp_path_factory.mktemp("pipe_kill"))
    # stage a fresh run dir containing only the first two completed stages
    import os
    import subprocess

    for stage in ["extracted", "triples"]:
        shutil.copytree(f"{run.out_dir}/{stage}", f"{out2}/{stage}")
    shutil.copytree(f"{run.out_dir}/manifest", f"{out2}/manifest")
    # drop manifest rows of later stages by rewriting the manifest dir
    m = spark.read.parquet(f"{out2}/manifest").filter(
        F.col("stage").isin("extracted", "triples")
    )
    m.write.mode("overwrite").parquet(f"{out2}/manifest_new")
    shutil.rmtree(f"{out2}/manifest")
    os.rename(f"{out2}/manifest_new", f"{out2}/manifest")

    r3 = P.run_pipeline(spark, smoke_pages, out2, run_id="t3")
    assert not r3.results["extracted"].recomputed
    assert not r3.results["triples"].recomputed
    assert r3.results["links"].recomputed and r3.results["edges"].recomputed
    # identical final graph vs the uninterrupted run
    a = r3.df("edges").orderBy("src", "dst", "pred").collect()
    b = run.df("edges").orderBy("src", "dst", "pred").collect()
    assert a == b


def test_warm_build_compiles_nothing(spark, smoke_pages, tmp_path):
    """A second identical build in one session reuses every generated
    class: the codegen cache holds a whole build, so the LRU does not
    evict and recompile each class on every build."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    P.run_pipeline(spark, smoke_pages, str(tmp_path / "b1"), run_id="w1")
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    P.run_pipeline(spark, smoke_pages, str(tmp_path / "b2"), run_id="w2")
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_broadcast_decision_runs_no_count_job(spark, smoke_pages, tmp_path, monkeypatch):
    """A build decides to broadcast the surface map from the mentions
    write's row count, an upper bound on the vocabulary, instead of a
    Spark job that counts the vocabulary; the edges plan still
    broadcasts the map."""
    from pdfmef_spark.operators import graph

    df_cls = type(smoke_pages)
    counted, built = [], []
    real_count, real_materialize = df_cls.count, graph.materialize_graph

    def count(self):
        counted.append(self)
        return real_count(self)

    def materialize(*args, **kwargs):
        built.append(real_materialize(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(df_cls, "count", count)
    monkeypatch.setattr(graph, "materialize_graph", materialize)
    run = P.run_pipeline(spark, smoke_pages, str(tmp_path / "b"), run_id="bc")
    monkeypatch.undo()
    assert 0 < run.results["mentions"].rows <= 100_000
    assert counted == []
    ((_, edges_df),) = built
    plan = edges_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_manifest_counters(spark, run):
    m = spark.read.parquet(f"{run.out_dir}/manifest")
    summary = m.filter((F.col("partition_id") == -1) & (F.col("status") == "complete"))
    stages = {r.stage for r in summary.select("stage").collect()}
    assert stages == set(P.STAGES)
    tri_total = summary.filter(F.col("stage") == "triples").collect()[0].rows_out
    per_part_sum = (
        m.filter((F.col("stage") == "triples") & (F.col("partition_id") >= 0))
        .agg(F.sum("rows_out"))
        .collect()[0][0]
    )
    assert tri_total == per_part_sum == run.df("triples").count()


def test_stage_rows_match_footers(run):
    """Every recomputed stage records the rows its write emitted, equal
    to the parquet footer row count of the stage directory."""
    for name in P.STAGES:
        footer_rows = sum(P._per_partition_counts(f"{run.out_dir}/{name}"))
        assert run.results[name].rows == footer_rows, name

def test_graph_tables_partitioned_and_pruned(spark, run):
    """edges hive-partitioned by pred, nodes by type: a per-predicate read
    prunes partitions at the scan (the Iceberg-table shape at 100 TB)."""
    import os

    edge_parts = [d for d in os.listdir(f"{run.out_dir}/edges") if d.startswith("pred=")]
    node_parts = [d for d in os.listdir(f"{run.out_dir}/nodes") if d.startswith("type=")]
    assert len(edge_parts) >= 3 and len(node_parts) >= 3

    df = spark.read.parquet(f"{run.out_dir}/edges").filter(F.col("pred") == "cites")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred" in plan, plan[:1500]
    assert df.count() > 0


def test_write_stage_readback_failure_nonempty_raises(spark, tmp_path, monkeypatch):
    """The zero-row empty-frame fallback must NOT swallow a read-back
    failure after a write that observed rows: that would silently feed
    empty data downstream (ADVICE r4). Non-empty write + broken
    read-back => loud failure; zero-row write + broken read-back =>
    typed empty frame."""
    from pyspark.sql.readwriter import DataFrameReader

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    empty = spark.createDataFrame([], "id long, v string")

    real_parquet = DataFrameReader.parquet

    def broken(self, *paths, **kw):
        raise RuntimeError("simulated read-back failure")

    out = str(tmp_path / "ws")
    # zero-row write: fallback returns the typed empty frame
    monkeypatch.setattr(DataFrameReader, "parquet", broken)
    got, rows = P._write_stage(spark, out, "r1", "s_empty", empty)
    assert rows == 0 and got.count() == 0 and got.schema == empty.schema
    # non-empty write: the same failure must propagate
    with pytest.raises(Exception, match="simulated read-back failure"):
        P._write_stage(spark, out, "r1", "s_full", df)
    monkeypatch.setattr(DataFrameReader, "parquet", real_parquet)
