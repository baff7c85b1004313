"""Round-6 profiling harness (guide §1): per-stage pipeline timings,
noop-sink query isolation, and .explain("formatted") capture.

Not part of the frozen bench contract — bench.py is untouched; this
exists to attribute wall-clock before/after each optimization.

Usage:
  python tools/profile_r06.py pipeline [sf]        # kg_e2e stage decomposition
  python tools/profile_r06.py queries [sf_dir]     # headliners, noop sink, 2 reps
  python tools/profile_r06.py explains [sf_dir] [out_suffix]  # capture plans
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_DIR = os.path.join(REPO, "plans", "r06")


def get_session():
    from pdfmef_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark("profile_r06", cores=cpus)


def profile_pipeline(sf: float, reps: int = 2) -> None:
    from pdfmef_spark import pipeline as P
    from pdfmef_spark.sources import store

    spark = get_session()
    pages = store.read_pages(spark, sf)
    n_docs = pages.count()
    for rep in range(reps):
        out_dir = tempfile.mkdtemp(prefix="prof_kg_")
        try:
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"kg_e2e rep{rep}")
            r = P.run_pipeline(spark, pages, out_dir, run_id=f"prof{rep}")
            n_edges = r.df("edges").count()
            total = round(time.time() - t0, 2)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        stages = {k: v.seconds for k, v in r.results.items()}
        print(json.dumps({
            "rep": rep, "sf": sf, "docs": n_docs, "edges": n_edges,
            "total_sec": total, "stages": stages,
        }), flush=True)


HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top3_orders_per_customer",
    "dedup_exact_documents",
    "events_daily",
    "doc_token_stats",
    "kg_pagerank",
]


def profile_queries(sf_dir: str, names: list[str] | None = None, reps: int = 2) -> None:
    from pdfmef_spark.plans import queries as Q

    spark = get_session()
    cat = Q.catalog()
    names = names or HEADLINERS
    out: dict[str, list[float]] = {}
    for rep in range(reps):
        for name in names:
            fn = cat[name]
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
    print(json.dumps(out), flush=True)


def capture_explains(sf_dir: str, suffix: str, names: list[str] | None = None) -> None:
    from pdfmef_spark.plans import queries as Q

    spark = get_session()
    cat = Q.catalog()
    os.makedirs(PLANS_DIR, exist_ok=True)
    for name in names or sorted(cat):
        try:
            df = cat[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as exc:
            plan = f"EXPLAIN FAILED: {exc!r}"
        with open(os.path.join(PLANS_DIR, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"captured {name}", flush=True)


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "pipeline":
        profile_pipeline(float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
    elif cmd == "queries":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        profile_queries(sf_dir, names)
    elif cmd == "explains":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4].split(",") if len(sys.argv) > 4 else None
        capture_explains(sf_dir, suffix, names)
    else:
        raise SystemExit(f"unknown cmd {cmd}")
