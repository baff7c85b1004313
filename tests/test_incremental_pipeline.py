"""Incremental KG update: delta-only extraction, full-graph equivalence.

Contract (pipeline.run_pipeline_incremental): growing the corpus
snapshot and running incrementally must (a) run the doc-local stages on
ONLY the new urls, and (b) end with exactly the graph a from-scratch
run over the full snapshot produces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdfmef_spark import pipeline as P


def _graph_sets(run):
    nodes = {
        (r.entity_id, r.canonical, r.type, r.n_mentions)
        for r in run.df("nodes").collect()
    }
    edges = {
        (r.src, r.dst, r.pred, r.weight) for r in run.df("edges").collect()
    }
    return nodes, edges


def _links_set(run):
    return {
        (r.type, r.src, r.dst, round(r.score, 9))
        for r in run.df("links").collect()
    }


def _batch_rows(spark, out_dir, stage, batch_id):
    return (
        spark.read.parquet(f"{out_dir}/{stage}")
        .filter(F.col("batch_id") == batch_id)
        .count()
    )


def test_incremental_equals_full(spark, smoke_pages, tmp_path):
    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)
    n_first, n_all = first.count(), pages.count()
    n_delta = n_all - n_first
    assert 0 < n_delta < n_all

    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")

    # batch 0: initial load through the incremental path
    P.run_pipeline_incremental(spark, first, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 0) == n_first

    # batch 1: the grown snapshot — only the delta is extracted
    run_inc = P.run_pipeline_incremental(spark, pages, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 1) == n_delta
    assert (
        spark.read.parquet(f"{inc_dir}/extracted").count() == n_all
    )

    run_full = P.run_pipeline(spark, pages, full_dir)
    assert _graph_sets(run_inc) == _graph_sets(run_full)


def test_incremental_noop_batch(spark, smoke_pages, tmp_path):
    out = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, smoke_pages, out)
    before = spark.read.parquet(f"{out}/edges").count()
    run2 = P.run_pipeline_incremental(spark, smoke_pages, out)
    # no new urls: no stage recomputed, outputs untouched
    assert all(not r.recomputed for r in run2.results.values())
    assert run2.df("edges").count() == before


def test_incremental_refuses_flat_layout_dir(spark, smoke_pages, tmp_path):
    out = str(tmp_path / "flat")
    P.run_pipeline(spark, smoke_pages.limit(30), out)
    with pytest.raises(ValueError, match="fresh out_dir"):
        P.run_pipeline_incremental(spark, smoke_pages, out)


def test_vocabulary_from_batch_deltas_equals_full(spark, smoke_pages, tmp_path):
    """The summed per-batch surface deltas must equal the vocabulary a
    full mentions scan produces — the invariant that lets the
    incremental tail skip historical mentions entirely."""
    from pdfmef_spark.operators import extract, linking, triples as T

    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    out = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, first, out)
    P.run_pipeline_incremental(spark, pages, out)

    merged = {
        (r.type, r.norm, r.surface, r.freq)
        for r in (
            spark.read.parquet(f"{out}/surfaces")
            .groupBy("type", "norm", "surface")
            .agg(F.sum("freq").alias("freq"))
            .collect()
        )
    }
    full = {
        (r.type, r.norm, r.surface, r.freq)
        for r in linking.surface_keys(
            T.mentions_from_triples(T.extract_triples(extract.extract_pages(pages)))
        ).collect()
    }
    assert merged == full


def test_incremental_analytics_equals_from_scratch(spark, smoke_pages, tmp_path):
    """analytics=True: after an incremental batch, the refreshed PageRank
    table must be bit-identical to ranks computed on a from-scratch run
    over the same snapshot (the recompute-from-merged-graph contract,
    pipeline.refresh_analytics)."""
    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)

    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")
    P.run_pipeline_incremental(spark, first, inc_dir)
    inc = P.run_pipeline_incremental(spark, pages, inc_dir, analytics=True)
    assert inc.results["pagerank"].seconds is not None

    full = P.run_pipeline(spark, pages, full_dir, analytics=True)
    got = {(r.node, r.pr) for r in inc.df("pagerank").collect()}
    want = {(r.node, r.pr) for r in full.df("pagerank").collect()}
    assert got == want


def test_incremental_first_batch_with_empty_stage(spark, tmp_path):
    """A first batch whose pages yield ZERO rows for a downstream stage
    (no relation sentences -> no triples) must not fail the read-back:
    the stage comes back as an empty typed DataFrame (ADVICE r3)."""
    pages = spark.createDataFrame(
        [("https://e.org/1",
          b"<html><head><title>t</title></head><body><main>"
          b"<h1>plain</h1><p>no relations here at all.</p></main></body></html>",
          "en")],
        "url string, html binary, lang string",
    )
    run = P.run_pipeline_incremental(spark, pages, str(tmp_path / "inc"))
    # title block yields a hasTitle triple, so force the truly-empty case
    # through the mentions stage (title objects are DOC-attributes only)
    assert run.df("mentions").count() == 0
    assert "surface" in run.df("mentions").columns


def test_delta_tail_three_batches_byte_identical(spark, smoke_pages, tmp_path):
    """Three incremental batches: batches 2+ take the delta links path
    and still end byte-identical to a from-scratch run, in links,
    assignments and graph."""
    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    r1 = P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    r3 = P.run_pipeline_incremental(spark, pages, inc_dir)
    # the links stage runs delta (prev links + new-norm pairs only),
    # and the accumulated links table must equal from-scratch
    assert r1.results["links"].metrics["links_mode"] == "full"
    assert r2.results["links"].metrics["links_mode"] == "delta"
    assert r3.results["links"].metrics["links_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _links_set(r3) == _links_set(run_full)
    assert _graph_sets(r3) == _graph_sets(run_full)
    a = {(r.type, r.norm, r.component) for r in r3.df("assignments").collect()}
    b = {(r.type, r.norm, r.component) for r in run_full.df("assignments").collect()}
    assert a == b


def _record_frames(monkeypatch, *methods):
    """Record, from now on, the DataFrame behind every call of the given
    (class, method name) pairs; a DataFrameWriter call records the frame
    it writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    seen = []
    for cls, name in methods:
        def rec(self, *args, _orig=getattr(cls, name), **kwargs):
            seen.append(self._df if isinstance(self, DataFrameWriter) else self)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, rec)
    return seen


def _layout(stage_dir):
    """The hive partition columns of a stage directory, outermost first
    (the ``col=`` prefixes along the path to its first data file)."""
    import os

    for root, _dirs, files in sorted(os.walk(stage_dir)):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(root, stage_dir)
            return [] if rel == "." else [p.split("=", 1)[0] for p in rel.split(os.sep)]
    return None


def test_legacy_layout_tick_rebuilds_full(spark, smoke_pages, tmp_path):
    """A store whose assignments/nodes/edges are in the older bucketed
    layout (assignments by ``cb``, nodes by (type, ``nb``), edges by
    (pred, ``eb``), 64 hash buckets each) is migrated by its next tick,
    a delta-links tick: the tick leaves run_pipeline's flat layout and
    equals a from-scratch run."""
    import shutil

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(64))  # noqa: E731
    legacy = {
        "assignments": ("cb", "component", []),
        "nodes": ("nb", "entity_id", ["type"]),
        "edges": ("eb", "src", ["pred"]),
    }
    for st, (bucket_col, of, parts) in legacy.items():
        tmp = str(tmp_path / f"legacy_{st}")
        spark.read.parquet(f"{inc_dir}/{st}").withColumn(
            bucket_col, bucket(F.col(of))
        ).write.partitionBy(*parts, bucket_col).parquet(tmp)
        shutil.rmtree(f"{inc_dir}/{st}")
        shutil.move(tmp, f"{inc_dir}/{st}")
        assert _layout(f"{inc_dir}/{st}") == [*parts, bucket_col]

    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    assert r2.results["links"].metrics["links_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages.filter(b != 2), str(tmp_path / "full"))
    for st, (bucket_col, _, parts) in legacy.items():
        assert _layout(f"{inc_dir}/{st}") == _layout(f"{run_full.out_dir}/{st}") == parts
        assert bucket_col not in spark.read.parquet(f"{inc_dir}/{st}").columns, st
    assert _graph_sets(r2) == _graph_sets(run_full)
    a = {(r.type, r.norm, r.component) for r in r2.df("assignments").collect()}
    want = {(r.type, r.norm, r.component) for r in run_full.df("assignments").collect()}
    assert a == want


def test_tick_links_decision_reaches_the_manifest(spark, smoke_pages, tmp_path):
    """The manifest links row of a bootstrap tick and of a delta tick
    holds the links mode, its reason and the seconds the decision took,
    the same dict as the tick's stage metrics."""
    import json

    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    r1 = P.run_pipeline_incremental(spark, smoke_pages.filter(b == 0), inc_dir)
    r2 = P.run_pipeline_incremental(spark, smoke_pages.filter(b != 2), inc_dir)
    rows = {
        r.run_id: r.metrics
        for r in spark.read.parquet(f"{inc_dir}/manifest")
        .filter((F.col("stage") == "links") & (F.col("status") == "complete"))
        .collect()
    }
    assert rows[r1.run_id] is not None and rows[r2.run_id] is not None, rows
    boot, delta = json.loads(rows[r1.run_id]), json.loads(rows[r2.run_id])
    assert (boot["links_mode"], boot["links_reason"]) == ("full", "bootstrap")
    assert (delta["links_mode"], delta["links_reason"]) == ("delta", "delta")
    assert boot["decide_s"] >= 0 and delta["decide_s"] > 0
    assert boot == r1.results["links"].metrics
    assert delta == r2.results["links"].metrics


def test_tick_ledger_work_reaches_the_manifest(spark, smoke_pages, tmp_path):
    """A tick's ledger read, its max(batch_id) job and its isEmpty job
    run before any stage; their seconds land in the manifest extracted
    row as ``ledger_s``, the same dict as the tick's stage metrics."""
    import json

    inc_dir = str(tmp_path / "inc")
    run = P.run_pipeline_incremental(spark, smoke_pages, inc_dir)
    (row,) = (
        spark.read.parquet(f"{inc_dir}/manifest")
        .filter(
            (F.col("run_id") == run.run_id)
            & (F.col("stage") == "extracted")
            & (F.col("status") == "complete")
        )
        .collect()
    )
    assert row.metrics is not None
    got = json.loads(row.metrics)
    assert got["ledger_s"] > 0
    assert got == run.results["extracted"].metrics


def test_tick_leaves_nothing_cached(spark, smoke_pages, tmp_path, monkeypatch):
    """Every frame a tick persists is unpersisted by the time the
    tick returns: a streaming driver runs one tick per micro-batch, so a
    frame left cached per tick grows the block store without bound."""
    from pyspark import StorageLevel

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)

    df_cls = type(spark.range(1))
    persisted = _record_frames(monkeypatch, (df_cls, "persist"), (df_cls, "cache"))
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    monkeypatch.undo()
    assert r2.results["links"].metrics["links_mode"] == "delta"
    assert persisted, "a tick persists its shared inputs"
    leaked = [df for df in persisted if df.storageLevel != StorageLevel.NONE]
    assert not leaked, [df.columns for df in leaked]


def test_delta_tail_crash_retry_falls_back_to_full(spark, smoke_pages, tmp_path):
    """A retry of a batch whose links already wrote (crash before the
    ledger commit) must NOT delta-update links — its pairs are already
    folded into the previous links and would be added twice. The
    batch's existing extracted partition forces the idempotent full
    rebuild, and the result still matches from-scratch."""
    import shutil

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    P.run_pipeline_incremental(spark, pages, inc_dir)
    # simulate: the last batch's tail completed but its ledger commit was lost
    kept = spark.read.parquet(f"{inc_dir}/ledger").filter(F.col("batch_id") != 1)
    rows, schema = kept.collect(), kept.schema
    shutil.rmtree(f"{inc_dir}/ledger")
    spark.createDataFrame(rows, schema).write.parquet(f"{inc_dir}/ledger")
    retry = P.run_pipeline_incremental(spark, pages, inc_dir)
    # prev links already contain this batch's delta, so a delta union
    # would dup
    assert retry.results["links"].metrics["links_mode"] == "full"
    assert retry.results["links"].metrics["links_reason"] == "retry"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _links_set(retry) == _links_set(run_full)
    assert _graph_sets(retry) == _graph_sets(run_full)


def test_delta_tail_crash_retry_with_new_run_id_falls_back_to_full(
    spark, smoke_pages, tmp_path
):
    """The crash-retry rule keys on the batch, not the run id: a retry
    that passes its own run_id must still find its batch's extracted
    partition and rebuild, instead of folding its delta into tables
    that already hold it."""
    import shutil

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    P.run_pipeline_incremental(spark, pages, inc_dir, run_id="attempt-1")
    kept = spark.read.parquet(f"{inc_dir}/ledger").filter(F.col("batch_id") != 1)
    rows, schema = kept.collect(), kept.schema
    shutil.rmtree(f"{inc_dir}/ledger")
    spark.createDataFrame(rows, schema).write.parquet(f"{inc_dir}/ledger")
    retry = P.run_pipeline_incremental(spark, pages, inc_dir, run_id="attempt-2")
    assert retry.results["links"].metrics["links_mode"] == "full"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _links_set(retry) == _links_set(run_full)
    assert _graph_sets(retry) == _graph_sets(run_full)


def _page(url: str, body: str):
    # first block renders as the <h1> title; the relation sentence must
    # be a LATER block or it is consumed as the hasTitle triple
    html = (
        "<html><head><title>t</title></head><body><main><article>"
        f"<h1>A page about things</h1><p>{body}</p>"
        "</article></main></body></html>"
    ).encode()
    return (url, html, "en")


def _cap_crossing_ticks(spark, inc_dir, monkeypatch):
    """Two ticks where the second grows the t:systems token bucket from
    2 to 3 members, past a cap patched down to 2; returns
    (all pages, tick 1, tick 2)."""
    from pdfmef_spark.operators import linking

    monkeypatch.setattr(linking, "TOKEN_BLOCK_CAP", 2)
    schema = "url string, html binary, lang string"
    b1 = spark.createDataFrame(
        [
            _page("https://x.org/1", "Alpha Systems is located in Paris."),
            _page("https://x.org/2", "Beta Systems is located in Lyon."),
        ],
        schema,
    )
    all_pages = b1.unionByName(
        spark.createDataFrame(
            [_page("https://x.org/3", "Gamma Systems is located in Nice.")],
            schema,
        )
    )
    r1 = P.run_pipeline_incremental(spark, b1, inc_dir)
    r2 = P.run_pipeline_incremental(spark, all_pages, inc_dir)
    return all_pages, r1, r2


def test_delta_links_cap_crossing_falls_back(spark, tmp_path, monkeypatch):
    """A blocking bucket that CROSSES its cap on this tick (>= 2 old
    members, now over cap) cannot be delta-updated — full recompute
    drops the whole bucket, so its old pairs must vanish from the
    links table. The tick must fall back to a full links rebuild and
    still match from-scratch under the same cap."""
    all_pages, r1, r2 = _cap_crossing_ticks(
        spark, str(tmp_path / "inc"), monkeypatch
    )
    assert r1.results["links"].metrics["links_mode"] == "full"
    # t:systems grows 2 -> 3 past the patched cap: crossing detected
    assert r2.results["links"].metrics["links_mode"] == "full"
    run_full = P.run_pipeline(spark, all_pages, str(tmp_path / "full"))
    assert _links_set(r2) == _links_set(run_full)
    # a full links rebuild can shrink the link set and split a
    # component; the graph must still match from-scratch
    cols = {
        "nodes": ("entity_id", "canonical", "type", "n_mentions"),
        "edges": ("src", "dst", "pred", "weight"),
    }
    for st, cs in cols.items():
        got = sorted(tuple(getattr(r, c) for c in cs) for r in r2.df(st).collect())
        want = sorted(
            tuple(getattr(r, c) for c in cs) for r in run_full.df(st).collect()
        )
        assert got == want, st


def test_full_links_tick_records_cap_drops(spark, tmp_path, monkeypatch):
    """A tick that rebuilds links in full records what the candidate
    caps dropped in its manifest links row, and keeps those counters
    beside ``links_mode`` in the stage metrics."""
    import json

    inc_dir = str(tmp_path / "inc")
    _, _, r2 = _cap_crossing_ticks(spark, inc_dir, monkeypatch)
    assert r2.results["links"].metrics["links_mode"] == "full"
    rows = (
        spark.read.parquet(f"{inc_dir}/manifest")
        .filter(
            (F.col("run_id") == r2.run_id)
            & (F.col("stage") == "links")
            & (F.col("status") == "complete")
        )
        .collect()
    )
    assert len(rows) == 1 and rows[0].metrics is not None
    caps = json.loads(rows[0].metrics)
    # the t:systems bucket (3 members) is over the cap of 2
    assert caps["buckets_dropped"] >= 1 and caps["members_dropped"] >= 3
    assert caps["links_reason"] == "crossed"
    assert r2.results["links"].metrics == {"links_mode": "full", **caps}


def test_delta_tick_with_no_new_norms_matches_full(spark, smoke_pages, tmp_path):
    """A tick whose only page is a clone of a stored doc under a new url
    brings no new surface norms and no new links. The graph must still
    equal a from-scratch run over the same pages (a zero-row delta write
    once returned an EMPTY assignments frame, so the tick dropped every
    entity-resolved edge and left n_mentions stale)."""
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    first = smoke_pages.filter(b == 0)
    src = first.orderBy("url").limit(1)
    clone = src.withColumn("url", F.concat(F.col("url"), F.lit("?clone=1")))
    pages = first.unionByName(clone)
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, first, inc_dir)
    r2 = P.run_pipeline_incremental(spark, pages, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 1) == 1
    assert r2.results["links"].metrics["links_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _graph_sets(r2) == _graph_sets(run_full)


def test_tick_broadcast_decision_runs_no_count_job(
    spark, smoke_pages, tmp_path, monkeypatch
):
    """A tick decides to broadcast the surface map from the footer row
    counts of the ``surfaces`` partitions, an upper bound on the
    vocabulary, instead of a Spark job that counts the vocabulary up to
    its limit; the edges plan still broadcasts the map."""
    from pdfmef_spark.operators import graph

    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, smoke_pages.filter(b == 0), inc_dir)

    df_cls = type(smoke_pages)
    counted, built = [], []
    real_count, real_materialize = df_cls.count, graph.materialize_graph

    def count(self):
        counted.append(self._jdf.queryExecution().logical().toString())
        return real_count(self)

    def materialize(*args, **kwargs):
        built.append(real_materialize(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(df_cls, "count", count)
    monkeypatch.setattr(graph, "materialize_graph", materialize)
    P.run_pipeline_incremental(spark, smoke_pages.filter(b != 2), inc_dir)
    monkeypatch.undo()
    assert not [c for c in counted if c.startswith("GlobalLimit 100001")], counted
    ((_, edges_df),) = built
    plan = edges_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
