"""kg_batch: a from-scratch ``pipeline.run_pipeline`` per iteration.

Untraced, each iteration builds the knowledge graph of one seed-chosen
window of pages into a fresh output directory; the doc-parallel Arrow
stages (extract, triples, mentions) and the linking/graph shuffles do
all the work, with no ledger or delta work.

Traced, the same pages also go through the operators one public call at
a time (each forced with a write), and a ``Ledger`` that holds all but a
seed-chosen split of them is probed once. The incremental tick
(``run_pipeline_incremental``) is not measured; see README.md.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import harness as H

PAGES = 1500
PROBE_PAGES = 100
LINK_THRESHOLD = 0.70
MIN_TRIPLE_PR = 0.95


class Inputs:
    def __init__(self, spark, work: Path, seed: int):
        self.rng = random.Random(f"kg_batch:{seed}")
        self.indices = H.window(self.rng, PAGES)
        self.path = work / "pages"
        self.golden, self.input_s = H.materialize(self.path, self.indices)
        self.gold_triples = {t for g in self.golden.values() for t in g.triples}
        self.pages = spark.read.parquet(str(self.path))


def check_build(out: Path, inp: Inputs) -> list[str]:
    """Byte-identical text for every url, triple P/R against golden."""
    problems = []
    seen: dict[str, int] = {}
    for url, text, err in H.read_rows(out / "extracted", ["url", "text", "error"]):
        seen[url] = seen.get(url, 0) + 1
        g = inp.golden.get(url)
        if g is None or err is not None or H.sha256(text) != g.sha256_text:
            problems.append(f"text mismatch for {url}")
    if len(seen) != len(inp.golden) or any(n != 1 for n in seen.values()):
        problems.append(f"extracted urls: {len(seen)} distinct of {len(inp.golden)}")
    got = set(H.read_rows(out / "triples", ["url", "subj", "pred", "obj"]))
    tp = len(got & inp.gold_triples)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(inp.gold_triples), 1)
    if precision < MIN_TRIPLE_PR or recall < MIN_TRIPLE_PR:
        problems.append(f"triples precision {precision:.4f} recall {recall:.4f}")
    return problems[:5]


def build(spark, inp: Inputs, out: Path, run_id: str, log):
    """One checked run_pipeline; returns (wall seconds, PipelineRun or None, ok)."""
    from pdfmef_spark import pipeline as P

    t0 = time.perf_counter()
    try:
        run = P.run_pipeline(spark, inp.pages, str(out), run_id=run_id)
        wall = time.perf_counter() - t0
        problems = check_build(out, inp)
    except Exception as exc:  # a failed build is a failed operation
        run, wall, problems = None, time.perf_counter() - t0, [f"{type(exc).__name__}: {exc}"]
    if problems:
        log(f"kg_batch build {run_id} failed: {problems}")
    return wall, run, not problems


def run(spark, work: Path, seed: int, seconds: float, trace: bool, log) -> dict:
    from pdfmef_spark import pipeline as P

    inp = Inputs(spark, work, seed)
    if trace:
        return run_traced(spark, work, inp, log)
    t0 = time.perf_counter()
    P.run_pipeline(spark, inp.pages, str(work / "warmup"), run_id="warmup")
    warmup_s = time.perf_counter() - t0
    H.rmtree(work / "warmup")

    walls, failed, digests = [], 0, set()
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        out = work / f"build-{len(walls)}"
        wall, _, ok = build(spark, inp, out, f"b{len(walls)}", log)
        walls.append(wall)
        if ok:
            digests.add(H.graph_digest(out))
            if len(digests) > 1:
                log("kg_batch: graph differs between identical builds")
                ok = False
        failed += not ok
        H.rmtree(out)

    build_s = statistics.median(walls)
    return {
        "attempted": len(walls),
        "failed": failed,
        "e2e": {"docs_per_s": PAGES / build_s},
        "setup_parts": {"sources.input_s": inp.input_s, "setup.warmup_s": warmup_s},
        "report": {
            "batch_docs_per_s": (PAGES / build_s, "1/s"),
            "batch_build_p50_s": (build_s, f"s (n={len(walls)})"),
            "pages": (PAGES, "count"),
        },
    }


def run_traced(spark, work: Path, inp: Inputs, log) -> dict:
    from pdfmef_spark.operators import components, extract, graph, linking, triples as triples_op

    tr = H.Tracer(spark)
    failed = 0

    # The warm-up build, untraced and checked, is the reference graph that
    # every other path must reproduce. Its stage seconds include the
    # process's cold start.
    batch_out = work / "batch"
    warmup_s, run, ok = build(spark, inp, batch_out, "warmup", log)
    if run is None:
        raise RuntimeError("the reference build failed")
    failed += not ok
    batch_digest = H.graph_digest(batch_out)
    stages = {name: res.seconds for name, res in run.results.items()}
    layers = {f"pipeline.stage_s.{name}": s for name, s in stages.items()}
    layers["pipeline.unattributed_s"] = warmup_s - sum(stages.values())

    # the same build, one public operator call per span
    d = work / "chain"
    rd = lambda name: spark.read.parquet(str(d / name))  # noqa: E731

    def write(df, name):
        df.write.mode("overwrite").parquet(str(d / name))

    with tr.span("extract"):
        write(extract.extract_pages(inp.pages), "extracted")
    with tr.span("triples"):
        write(triples_op.extract_triples(rd("extracted")), "triples")
    with tr.span("mentions"):
        write(triples_op.mentions_from_triples(rd("triples")), "mentions")
    with tr.span("linking.keys"):
        write(linking.surface_keys(rd("mentions")), "keys")
    # candidate_pairs then score_pairs is link_entities split in two
    with tr.span("linking.candidates"):
        write(linking.candidate_pairs(rd("keys")), "candidates")
    with tr.span("linking.links"):
        write(linking.score_pairs(rd("candidates"), threshold=LINK_THRESHOLD), "links")
    with tr.span("components"):
        write(components.assign_components(rd("keys"), rd("links")), "assignments")
    with tr.span("graph"):
        nodes, edges = graph.materialize_graph(rd("triples"), rd("keys"), rd("assignments"))
        write(nodes, "nodes")
        write(edges, "edges")
    if H.graph_digest(d) != batch_digest:
        failed += 1
        log("operator chain graph differs from the run_pipeline graph")

    rows = {name: H.count_rows(d / name) for name in (
        "extracted", "triples", "mentions", "keys", "candidates", "links", "nodes", "edges")}
    layers.update({
        "extract.busy_s": tr.busy_s("extract"),
        "extract.rows": rows["extracted"],
        "extract.error_rows": sum(
            1 for (e,) in H.read_rows(d / "extracted", ["error"]) if e is not None
        ),
        "extract.jobs": tr.jobs("extract"),
        "triples.busy_s": tr.busy_s("triples"),
        "triples.rows": rows["triples"],
        "triples.mentions_busy_s": tr.busy_s("mentions"),
        "triples.mention_rows": rows["mentions"],
        "triples.jobs": tr.jobs("triples") + tr.jobs("mentions"),
        "linking.keys_busy_s": tr.busy_s("linking.keys"),
        "linking.surfaces": rows["keys"],
        "linking.candidates_busy_s": tr.busy_s("linking.candidates"),
        "linking.candidate_pairs": rows["candidates"],
        "linking.busy_s": tr.busy_s("linking.links"),
        "linking.links": rows["links"],
        "linking.link_yield": rows["links"] / max(rows["candidates"], 1),
        "linking.jobs": sum(tr.jobs(s) for s in ("linking.keys", "linking.candidates", "linking.links")),
        "components.busy_s": tr.busy_s("components"),
        "components.components": len({c for (c,) in H.read_rows(d / "assignments", ["component"])}),
        "components.jobs": tr.jobs("components"),
        "graph.busy_s": tr.busy_s("graph"),
        "graph.nodes": rows["nodes"],
        "graph.edges": rows["edges"],
        "graph.jobs": tr.jobs("graph"),
    })

    probe_s, ledger_ok = ledger_probe(spark, work, inp, tr, log)
    failed += not ledger_ok
    layers["ledger.probe_s"] = probe_s
    layers["trace.overhead_s"] = tr.overhead
    return {
        "attempted": 3,  # reference build, operator chain, ledger probe
        "failed": failed,
        "e2e": {},
        "setup_parts": {"sources.input_s": inp.input_s, "setup.warmup_s": warmup_s},
        "report": {},
        "layers": layers,
    }


def ledger_probe(spark, work: Path, inp: Inputs, tr, log):
    """Commit the pages minus a seed-chosen split to a fresh ledger, then
    probe it with every page: it must claim exactly the split. Returns
    (probe seconds, ok)."""
    from pyspark.sql import functions as F

    from pdfmef_spark.streaming.incremental import Ledger

    split = sorted(inp.rng.sample(sorted(inp.golden), PROBE_PAGES))
    ledger = Ledger(spark, str(work / "ledger"), key="url")
    ledger.commit(inp.pages.filter(~F.col("url").isin(split)), batch_id=0)
    with tr.span("ledger.probe") as probe:
        todo = ledger.unprocessed(inp.pages).select("url").collect()
    H.rmtree(work / "ledger")
    ok = sorted(r.url for r in todo) == split
    if not ok:
        log(f"ledger claimed {len(todo)} pages, expected the {PROBE_PAGES} uncommitted ones")
    return probe["end"] - probe["start"], ok
