"""Vocabulary-growth stress for entity linking.

The synthetic corpus draws surfaces from fixed pools (corpus.py), so the
links stage looks ~constant in doc count there. Real web surface forms
grow with corpus size; this module generates a mentions table whose
DISTINCT surface count grows linearly with n and drives the full
link_entities path (LSH bands + token/prefix blocks + Arrow scoring)
over it at two sizes, recording throughput scaling. Validates the
"caps keep candidate generation bucketed" claim under vocabulary growth
(reference analog: pdfmef's author/affiliation strings grow with the
crawl, src/extractor/csxextract/extractors/tei.py:45-65).

Everything is a pure function of the row index — deterministic at any
parallelism, nothing collected to the driver but the final count.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

VARIANTS_PER_ENTITY = 3


def stress_mentions(spark: SparkSession, n_entities: int) -> DataFrame:
    """3 alias mentions per entity; distinct-surface count = 3*n.

    Last names are fixed-width md5-hex tokens: equal-length strings never
    prefix-match unless equal, and hex noise keeps cross-entity character
    Jaccard far below the 0.70 link threshold, so every accepted pair is
    within-entity. Per entity, (canonical, initialed) is guaranteed by the
    shared-last-token block and (canonical, extended) by the
    two-token-prefix block; (initialed, extended) sits just under the
    threshold — tests assert 2n <= links <= 3n and zero cross-entity pairs.
    """
    base = spark.range(VARIANTS_PER_ENTITY * n_entities).select(
        F.floor(F.col("id") / VARIANTS_PER_ENTITY).alias("e"),
        (F.col("id") % VARIANTS_PER_ENTITY).alias("v"),
    )
    first = F.concat(F.lit("Fn"), F.pmod(F.col("e"), F.lit(37)))
    last = F.concat(F.lit("Ln"), F.substring(F.md5(F.col("e").cast("string")), 1, 8))
    surface = (
        F.when(F.col("v") == 0, F.concat(first, F.lit(" "), last))
        .when(F.col("v") == 1, F.concat(F.substring(first, 1, 1), F.lit(". "), last))
        .otherwise(F.concat(first, F.lit(" "), last, F.lit(" Labs")))
    )
    return base.select(F.lit("PERSON").alias("type"), surface.alias("surface"))


def linking_scaling(
    spark: SparkSession, n_small: int = 10_000, growth: int = 4, reps: int = 2
) -> dict:
    """Run link_entities at n and growth*n entities; report best-of-reps
    wall-clock, surfaces/sec, and the time ratio (linear growth => ratio
    ~= growth; an unbucketed quadratic path would show ~growth**2).

    Reps ALTERNATE between the two sizes (small, large, small, large)
    so a throttle phase on this burstable VM cannot land entirely on one
    side and invert the ratio (same discipline as tools/scaling_run.py).
    """
    from pdfmef_spark.operators.linking import link_entities

    sizes = {"small": n_small, "large": n_small * growth}
    best: dict[str, float] = {}
    links_n: dict[str, int] = {}
    for _ in range(reps):
        for tag, n in sizes.items():
            m = stress_mentions(spark, n)
            t0 = time.time()
            links_n[tag] = link_entities(m).count()
            dt = time.time() - t0
            best[tag] = min(best.get(tag, dt), dt)

    out: dict = {"growth": growth, "reps": reps}
    for tag, n in sizes.items():
        out[tag] = {
            "entities": n,
            "surfaces": VARIANTS_PER_ENTITY * n,
            "links": links_n[tag],
            "sec": round(best[tag], 3),
            "surfaces_per_sec": round(VARIANTS_PER_ENTITY * n / best[tag], 1),
        }
    out["time_ratio"] = round(out["large"]["sec"] / out["small"]["sec"], 3)
    return out


def stress_pages(spark: SparkSession, n_pages: int) -> DataFrame:
    """Vocabulary-GROWING page corpus for full-pipeline scaling runs.

    The oracle corpus (corpus.py) draws entities from fixed pools, so its
    linking/components/graph tail is ~constant in doc count and a
    full-pipeline scaling ratio over it mostly measures fixed stage
    latency (BENCH_r03 printed 0.685 for exactly this reason). Here the
    entity vocabulary grows linearly with n — one person entity per 3
    pages (3 alias variants spread across its 3 pages), one org per 15 —
    so every pipeline stage's work, including candidate generation and
    pair scoring, scales with the input.

    Pages are pure JVM expressions (deterministic in i, no Python), with
    HTML that exercises the real extract path: boilerplate <header>/
    <footer>/<aside> to strip, an <h1> title block, relation sentences
    the triple patterns recognize, and ~2.5 KB of md5-derived filler
    paragraphs so per-document extract/scan work matches a REAL
    Common-Crawl page (~3 KB like the oracle corpus) — a toy-sized page
    makes the measured "full pipeline" mostly fixed stage latency, which
    is not the workload the scaling criterion describes. md5-hex name
    stems are fixed-width so equal-length stems never prefix-match
    across entities (same design as stress_mentions). The shared
    "Jr"/"Labs" last tokens form planted HOT blocks: at this scale the
    t: token-block cap drops them (the counters land in the links-stage
    manifest), and within-entity links still form via the p:
    two-token-prefix block — capped-skew behavior on the scaling path
    is a feature, not an accident.
    """
    n_ent = max(n_pages // 3, 1)
    n_org = max(n_ent // 5, 1)
    i = F.col("i")
    e = F.pmod(i, F.lit(n_ent))
    v = F.pmod(F.floor(i / F.lit(n_ent)), F.lit(3))
    first = F.concat(F.lit("Fn"), F.pmod(e, F.lit(37)))
    last = F.concat(F.lit("Ln"), F.substring(F.md5(e.cast("string")), 1, 8))
    person = (
        F.when(v == 0, F.concat(first, F.lit(" "), last))
        .when(v == 1, F.concat(F.lit("F. "), last))
        .otherwise(F.concat(first, F.lit(" "), last, F.lit(" Jr")))
    )
    o = F.pmod(e, F.lit(n_org))
    stem = F.concat(
        F.lit("Og"), F.substring(F.md5(F.concat(F.lit("org-"), o.cast("string"))), 1, 8)
    )
    org = (
        F.when(v == 0, F.concat(stem, F.lit(" Labs")))
        .when(v == 1, stem)
        .otherwise(F.concat(F.lit("The "), stem, F.lit(" Labs")))
    )
    # second person (next entity, canonical alias) — an extra mention
    # family per page without growing the alias variant count
    e2 = F.pmod(e + 1, F.lit(n_ent))
    p2 = F.concat(
        F.lit("Fn"), F.pmod(e2, F.lit(37)), F.lit(" Ln"),
        F.substring(F.md5(e2.cast("string")), 1, 8),
    )
    city = F.element_at(
        F.array(*[F.lit(c) for c in ["Zurich", "Osaka", "Toronto", "Nairobi", "Lima"]]),
        (F.pmod(o, F.lit(5)) + 1).cast("int"),
    )

    def filler(k: int):
        # ~55 words of deterministic pseudo-prose per paragraph: hex
        # chunks read as words, varied per (page, paragraph) so the
        # extractor scans genuinely distinct text
        h = F.md5(F.concat(i.cast("string"), F.lit(f"-fill-{k}")))
        return F.concat(
            F.lit("<p>The quarterly analysis of segment "),
            F.substring(h, 1, 6),
            F.lit(" shows steady results across regions with further work "
                  "planned for the index and the query system. Observed "
                  "variance in cohort "),
            F.substring(h, 7, 6),
            F.lit(" stays within the expected band while the crawl backlog "
                  "for partition "),
            F.substring(h, 13, 6),
            F.lit(" drains on schedule. Reviewers noted that the sampling "
                  "window for batch "),
            F.substring(h, 19, 6),
            F.lit(" should widen before the next refresh, and that the "
                  "retry budget of shard "),
            F.substring(h, 25, 6),
            F.lit(" remains the limiting factor for end to end throughput "
                  "under sustained load.</p>"),
        )

    html = F.concat(
        F.lit("<html><head><title>Stress "), i,
        F.lit('</title><style>body{margin:0}</style></head><body>'
              "<header><nav>home | news | about | archive</nav></header>"
              "<main><h1>Stress report "), i,
        F.lit("</h1>"),
        filler(0),
        F.lit("<p>"), person, F.lit(" works for "), org,
        F.lit(".</p>"),
        filler(1),
        F.lit("<p>"), org, F.lit(" is located in "), city, F.lit("."),
        F.lit("</p>"),
        filler(2),
        F.lit("<p>"), org, F.lit(" was founded by "), p2,
        F.lit(".</p>"),
        filler(3),
        F.lit("<p>"), person, F.lit(" is affiliated with "), org,
        F.lit(".</p>"),
        filler(4),
        F.lit('</main><aside class="ad">Advertisement - subscribe today</aside>'
              "<footer>contact and copyright</footer></body></html>"),
    )
    return spark.range(n_pages).select(F.col("id").alias("i")).select(
        F.concat(
            F.lit("https://stress"),
            F.pmod(F.xxhash64(i), F.lit(max(n_pages // 50, 5))),
            F.lit(".example.org/doc/"), i,
        ).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("en").alias("lang"),
    )


def stress_embeddings(
    spark: SparkSession, n: int, dim: int = 32, clusters: int = 64
) -> DataFrame:
    """Deterministic clustered embedding table (vec_id, embedding).

    Every component is a pure function of (vec_id, j): cluster center +
    bounded noise, so the table is identical at any parallelism and
    needs no seed state. Clustered structure (not uniform noise) is what
    makes IVF a fair test — real embedding spaces are clustered, and a
    coarse quantizer over uniform noise has nothing to exploit."""
    def comp(j: int):
        c = F.pmod(F.col("id"), F.lit(clusters))
        center = F.pmod(F.xxhash64(c, F.lit(j)), F.lit(2001)) / 1000.0 - 1.0
        noise = (
            F.pmod(F.xxhash64(F.col("id"), F.lit(j + 7919)), F.lit(2001)) / 1000.0
            - 1.0
        ) * 0.15
        return (center + noise).cast("float")

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(j) for j in range(dim)]).alias("embedding"),
    )


def ann_scaling(
    spark: SparkSession,
    n_small: int = 100_000,
    growth: int = 4,
    k: int = 10,
    n_queries: int = 8,
    nprobe: int = 16,
    reps: int = 2,
) -> dict:
    """IVF ANN at n and growth*n vectors: wall-clock, time ratio, and
    recall@k vs the brute-force oracle at BOTH sizes.

    Mirrors linking_scaling's evidence shape for the similarity-search
    family: centroid count grows ~sqrt(N) (the standard IVF sizing), so
    near-linear time ratio + stable recall evidences that probe cost
    stays bucketed as the table grows. Reps alternate sizes
    (interleaved best-of-N, the scaling_run.py discipline). Input
    tables are materialized to .cache parquet once (deterministic), so
    generation cost never rides the measurement."""
    import math
    import os

    from pdfmef_spark.operators.similarity import brute_force_topk, ivf_topk
    from pdfmef_spark.sources.store import DEFAULT_CACHE

    sizes = {"small": n_small, "large": n_small * growth}
    paths: dict[str, str] = {}
    for tag, n in sizes.items():
        p = f"{DEFAULT_CACHE}/ann_stress_{n}"
        if not os.path.exists(p):
            stress_embeddings(spark, n).write.mode("overwrite").parquet(p)
        paths[tag] = p

    best: dict[str, float] = {}
    recalls: dict[str, float] = {}
    for _ in range(reps):
        for tag, n in sizes.items():
            emb = spark.read.parquet(paths[tag])
            queries = spark.createDataFrame(
                [
                    (int(r.vec_id), list(map(float, r.embedding)))
                    for r in emb.filter(
                        F.pmod(F.col("vec_id"), F.lit(n // n_queries)) == 17
                    ).limit(n_queries).collect()
                ],
                "q_id long, q_vec array<double>",
            )
            n_cent = int(math.sqrt(n))
            t0 = time.time()
            ivf = ivf_topk(
                emb, queries, k=k, n_centroids=n_cent, nprobe=nprobe
            ).collect()
            dt = time.time() - t0
            best[tag] = min(best.get(tag, dt), dt)
            if tag not in recalls:
                truth = brute_force_topk(emb, queries, k=k).collect()
                t_set = {(r.q_id, r.vec_id) for r in truth}
                i_set = {(r.q_id, r.vec_id) for r in ivf}
                recalls[tag] = round(len(t_set & i_set) / max(len(t_set), 1), 4)

    out: dict = {"growth": growth, "k": k, "nprobe": nprobe, "reps": reps}
    for tag, n in sizes.items():
        out[tag] = {
            "vectors": n,
            "centroids": int(math.sqrt(n)),
            "sec": round(best[tag], 3),
            "vectors_per_sec": round(n / best[tag], 1),
            "recall_at_k": recalls[tag],
        }
    out["time_ratio"] = round(out["large"]["sec"] / out["small"]["sec"], 3)
    return out


def streaming_tick_scaling(
    spark: SparkSession,
    n_batches: int = 20,
    total_docs: int = 8000,
    keep_dirs: bool = False,
) -> dict:
    """Per-tick latency as streamed batches ACCUMULATE (~n_batches drops).

    What it shows: a tick's doc-local stages and links are O(delta),
    while its graph tail (assignments, nodes, edges) is rebuilt from
    all triples, the same tail ``run_pipeline`` writes. The per-stage
    growth below separates the two as batches 1..n accumulate, and the
    processed-url ledger's anti-join must stay cheap as the ledger
    grows. Each tick drops one parquet file of NEW urls into the
    arrival dir, restarts the availableNow stream against the same
    checkpoint (file-source dedup skips everything already processed),
    and times (a) the whole tick and (b) a standalone ledger anti-join
    probe of the next batch against the accumulated ledger. Reported:
    per-tick walls, first-3 vs last-3 means, and their ratio — a ratio
    near 1 means fixed per-job cost still outweighs the tail's
    corpus-sized work; a ratio near ~n_batches/3 means it no longer
    does.
    """
    import shutil
    import tempfile

    from pdfmef_spark.streaming.incremental import Ledger
    from pdfmef_spark.streaming.ingest import run_streaming_kg_updates

    root = tempfile.mkdtemp(prefix="stream_ticks_")
    arrival, out, ckpt = f"{root}/arrive", f"{root}/kg", f"{root}/ckpt"
    os.makedirs(arrival, exist_ok=True)

    pages = stress_pages(spark, total_docs).withColumn(
        "batch", F.pmod(F.xxhash64("url"), F.lit(n_batches))
    )
    staged = f"{root}/staged"
    pages.write.partitionBy("batch").mode("overwrite").parquet(staged)

    tick_secs: list[float] = []
    ledger_probe_secs: list[float] = []
    stage_secs: list[dict] = []  # per tick: stage -> wall seconds
    try:
        for b in range(n_batches):
            # one drop = one batch's parquet files moved into arrival
            src = f"{staged}/batch={b}"
            for i, f_ in enumerate(sorted(os.listdir(src)) if os.path.exists(src) else []):
                if f_.endswith(".parquet"):
                    shutil.copy(f"{src}/{f_}", f"{arrival}/b{b}_{i}.parquet")
            tick_stages: dict = {}

            def _collect(run, epoch_id, sink=tick_stages):
                for name, res in run.results.items():
                    sink[name] = round(sink.get(name, 0.0) + res.seconds, 2)

            t0 = time.time()
            q = run_streaming_kg_updates(
                spark, arrival, out, checkpoint_dir=ckpt, on_batch=_collect
            )
            q.awaitTermination()
            tick_secs.append(round(time.time() - t0, 2))
            stage_secs.append(tick_stages)

            # controlled probe: anti-join the SAME fixed-size snapshot
            # against the growing ledger each tick — isolates the
            # ledger-side cost from batch-size variation
            snap = spark.read.parquet(staged)
            t0 = time.time()
            Ledger(spark, f"{out}/ledger", key="url").unprocessed(snap).count()
            ledger_probe_secs.append(round(time.time() - t0, 2))
        edges = spark.read.parquet(f"{out}/edges").count()
        urls = spark.read.parquet(f"{out}/ledger").count()
    finally:
        if not keep_dirs:
            shutil.rmtree(root, ignore_errors=True)

    head = tick_secs[:3]
    tail = tick_secs[-3:]
    # per-stage first-3 vs last-3 means: names WHICH component grows as
    # batches accumulate (O(vocab) links/tail work) and which stays flat
    # (fixed stream/commit overhead) — the attribution behind the
    # aggregate last_over_first ratio
    stage_growth = {}
    for name in stage_secs[0] if stage_secs else ():
        h = [s.get(name, 0.0) for s in stage_secs[:3]]
        t = [s.get(name, 0.0) for s in stage_secs[-3:]]
        hm, tm = sum(h) / len(h), sum(t) / len(t)
        stage_growth[name] = {
            "first3_mean_sec": round(hm, 2),
            "last3_mean_sec": round(tm, 2),
            "last_over_first": round(tm / max(hm, 1e-9), 3),
        }
    return {
        "stage_growth": stage_growth,
        "batches": n_batches,
        "docs": total_docs,
        "urls_in_ledger": urls,
        "edges": edges,
        "tick_secs": tick_secs,
        "ledger_probe_secs": ledger_probe_secs,
        "first3_mean_sec": round(sum(head) / len(head), 2),
        "last3_mean_sec": round(sum(tail) / len(tail), 2),
        "last_over_first": round(
            (sum(tail) / len(tail)) / max(sum(head) / len(head), 1e-9), 3
        ),
        "ledger_probe_last_over_first": round(
            (sum(ledger_probe_secs[-3:]) / 3)
            / max(sum(ledger_probe_secs[:3]) / 3, 1e-9),
            3,
        ),
    }
