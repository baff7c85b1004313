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
    """Three incremental batches: batches 2+ must take the delta+remap
    graph tail (component-stable entity ids, no historical-triples
    rescan) and still end byte-identical to a from-scratch run — the
    round-4 'documented next increment'."""
    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    r1 = P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    r3 = P.run_pipeline_incremental(spark, pages, inc_dir)
    # first batch has no previous tail; later batches must be delta
    assert r1.results["edges"].metrics["tail_mode"] == "full"
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    assert r3.results["edges"].metrics["tail_mode"] == "delta"
    # the links stage must ALSO run delta (prev links + new-norm pairs
    # only), and the accumulated links table must equal from-scratch
    assert r1.results["links"].metrics["links_mode"] == "full"
    assert r2.results["links"].metrics["links_mode"] == "delta"
    assert r3.results["links"].metrics["links_mode"] == "delta"
    # assignments ride the same delta ticks (merge-only remap, no CC
    # over the full links table) and still match from-scratch below
    assert r2.results["assignments"].metrics["assignments_mode"] == "delta"
    assert r3.results["assignments"].metrics["assignments_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _links_set(r3) == _links_set(run_full)
    assert _graph_sets(r3) == _graph_sets(run_full)
    # compare on the semantic columns: the incremental store hive-
    # buckets assignments by component hash (a `cb` layout column the
    # flat batch-pipeline table does not carry)
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


def _scan_roots(df):
    """Root paths of every parquet file scan in ``df``'s physical plan."""
    roots = []
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            paths = leaf.relation().location().rootPaths()
            for k in range(paths.size()):
                roots.append(paths.apply(k).toUri().getPath().rstrip("/"))
    return roots


def test_delta_tail_plan_never_scans_historical_triples(
    spark, smoke_pages, tmp_path, monkeypatch
):
    """A delta tick reads the CURRENT batch's triples partition and
    never the triples table as a whole: of every frame tick 2
    checkpoints or writes, the only triples scan is
    ``triples/batch_id=1`` (tail input O(delta + vocab + prev graph),
    not O(all triples))."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = os.path.realpath(str(tmp_path / "inc"))
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    df_cls = type(spark.range(1))
    seen = _record_frames(
        monkeypatch, (df_cls, "localCheckpoint"), (DataFrameWriter, "parquet")
    )
    r2 = P.run_pipeline_incremental(spark, pages, inc_dir)
    monkeypatch.undo()
    assert r2.results["edges"].metrics["tail_mode"] == "delta"

    triples_dir = f"{inc_dir}/triples"
    triples_roots = {
        r for df in seen for r in _scan_roots(df)
        if r == triples_dir or r.startswith(triples_dir + "/")
    }
    assert triples_roots == {f"{triples_dir}/batch_id=1"}


def test_legacy_layout_tick_rebuilds_full(spark, smoke_pages, tmp_path):
    """A store whose assignments/nodes/edges predate the bucket columns
    (cb/nb/eb) gets one full relayout rebuild of the tail, even on a
    delta-links tick: the tick writes the bucket columns again and still
    equals a from-scratch run."""
    import shutil

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    # the pre-bucketing layout: flat assignments, nodes by type, edges
    # by pred (the run_pipeline shape)
    legacy = {"assignments": ("cb", []), "nodes": ("nb", ["type"]), "edges": ("eb", ["pred"])}
    for st, (bucket_col, parts) in legacy.items():
        tmp = str(tmp_path / f"legacy_{st}")
        spark.read.parquet(f"{inc_dir}/{st}").drop(bucket_col).write.partitionBy(
            *parts
        ).parquet(tmp)
        shutil.rmtree(f"{inc_dir}/{st}")
        shutil.move(tmp, f"{inc_dir}/{st}")
        assert bucket_col not in spark.read.parquet(f"{inc_dir}/{st}").columns

    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    assert r2.results["links"].metrics["links_mode"] == "delta"
    assert r2.results["assignments"].metrics["assignments_mode"] == "full"
    assert r2.results["edges"].metrics["tail_mode"] == "full"
    for st, (bucket_col, _) in legacy.items():
        assert bucket_col in spark.read.parquet(f"{inc_dir}/{st}").columns, st
    run_full = P.run_pipeline(spark, pages.filter(b != 2), str(tmp_path / "full"))
    assert _graph_sets(r2) == _graph_sets(run_full)


def test_delta_tick_leaves_nothing_cached(spark, smoke_pages, tmp_path, monkeypatch):
    """Every frame a delta tick persists is unpersisted by the time the
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
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    assert persisted, "a delta tick persists its shared inputs"
    leaked = [df for df in persisted if df.storageLevel != StorageLevel.NONE]
    assert not leaked, [df.columns for df in leaked]


def test_delta_tail_crash_retry_falls_back_to_full(spark, smoke_pages, tmp_path):
    """A retry of a batch whose tail already wrote (crash before the
    ledger commit) must NOT delta-update — its edges are already folded
    into prev_edges and would double-count. The batch's existing
    extracted partition forces the idempotent full rebuild, and the
    result still matches from-scratch."""
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
    assert retry.results["edges"].metrics["tail_mode"] == "full"
    # the links stage shares the poisoned-retry guard: prev links
    # already contain this batch's delta, so a delta union would dup
    assert retry.results["links"].metrics["links_mode"] == "full"
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
    assert retry.results["edges"].metrics["tail_mode"] == "full"
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
    # a full links rebuild can shrink the link set, under which the
    # remap-based graph tail is unsound (a split can hide from the
    # n_new probe when one fragment keeps the old component id —
    # ADVICE r5 high); the tick must rebuild the tail fully and match
    # from-scratch byte-for-byte on the GRAPH too, not just links
    assert r2.results["edges"].metrics["tail_mode"] == "full"
    # semantic columns only: the incremental store hive-buckets nodes/
    # edges (nb/eb layout columns the flat batch tables do not carry)
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
    assert r2.results["links"].metrics == {"links_mode": "full", **caps}


def test_delta_tick_rewrites_only_affected_assignment_buckets(
    spark, smoke_pages, tmp_path
):
    """The assignments table is hive-bucketed by component hash; a
    merge-only delta tick must append/replace ONLY buckets holding a
    merged representative or a new norm — files of untouched buckets
    stay byte-for-byte in place (same path, same mtime), which is what
    makes the per-tick tail write O(delta) instead of O(vocab)."""
    import glob
    import os

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{inc_dir}/assignments/cb=*/*.parquet")
    }
    assert before, "bootstrap tick must produce bucketed assignments"
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    assert r2.results["assignments"].metrics["assignments_mode"] == "delta"
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{inc_dir}/assignments/cb=*/*.parquet")
    }
    surviving = [p for p in before if p in after]
    assert surviving, "a delta tick must leave untouched buckets in place"
    for p in surviving:
        assert before[p] == after[p], p
    # content equality with from-scratch is pinned separately by
    # test_delta_tail_three_batches_byte_identical
    assert set(after) != set(before)  # the tick did write somewhere


def test_delta_tick_rewrites_only_affected_graph_buckets(
    spark, smoke_pages, tmp_path
):
    """Nodes/edges get the same bucket-pruned treatment: a delta tick
    must leave at least some node and edge bucket files physically
    untouched (same path + mtime) while appending the batch's DOC node
    / DOC-subject edge partitions."""
    import glob
    import os

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    snap = {
        st: {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{inc_dir}/{st}/*/*/*.parquet")
        }
        for st in ("nodes", "edges")
    }
    assert snap["nodes"] and snap["edges"]
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    for st in ("nodes", "edges"):
        after = {
            p: os.path.getmtime(p)
            for p in glob.glob(f"{inc_dir}/{st}/*/*/*.parquet")
        }
        surviving = [p for p in snap[st] if p in after]
        assert surviving, f"{st}: delta tick should not rewrite every bucket"
        for p in surviving:
            assert snap[st][p] == after[p], p
        # the batch's append partition landed
        assert set(after) != set(snap[st]), st


def test_delta_tick_with_no_new_norms_matches_full(spark, smoke_pages, tmp_path):
    """A tick whose only page is a clone of a stored doc under a new url
    brings no new surface norms, so the delta assignments append writes
    zero rows. The accumulated assignments table must still be read back
    whole: the graph equals a from-scratch run over the same pages (a
    zero-row append used to return an EMPTY assignments frame, so the
    tick dropped every entity-resolved edge and left n_mentions stale)."""
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    first = smoke_pages.filter(b == 0)
    src = first.orderBy("url").limit(1)
    clone = src.withColumn("url", F.concat(F.col("url"), F.lit("?clone=1")))
    pages = first.unionByName(clone)
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, first, inc_dir)
    r2 = P.run_pipeline_incremental(spark, pages, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 1) == 1
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _graph_sets(r2) == _graph_sets(run_full)
