"""doc_serve: one closed-loop client against ``service.DocService``.

The store is the url-bucketed serving table built by
``DocService.init_from`` over a seed-chosen window of pages. The client
repeats a fixed cycle of eight requests, waiting for each reply before
sending the next:

    GET raw, GET text, GET header, GET citations   (seed-chosen stored urls)
    upload a new document, GET text of it          (the write is visible)
    delete it, GET raw of it                        (the delete is visible)

Only whole cycles are timed, so every run serves the same request mix.
Every reply is checked against the generator's truth.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

import harness as H

STORE_PAGES = 1500
N_BUCKETS = 8
CYCLE_REQUESTS = 8


class Store:
    def __init__(self, spark, work: Path, seed: int):
        from pdfmef_spark.service import DocService

        self.rng = random.Random(f"doc_serve:{seed}")
        self.indices = H.window(self.rng, STORE_PAGES)
        taken = [(self.indices.start, self.indices.stop)]
        # documents to upload come from a disjoint window, so their urls
        # are never already in the store
        self.upload_pool = iter(H.window(self.rng, 10_000, taken))
        self.golden, self.input_s = H.materialize(work / "pages", self.indices)
        self.urls = sorted(self.golden)
        self.truth_urls = [u for u in self.urls if self.golden[u].has_truth]
        self.svc = DocService(spark, str(work / "store"), n_buckets=N_BUCKETS)
        t0 = time.perf_counter()
        self.svc.init_from(spark.read.parquet(str(work / "pages")))
        self.init_s = time.perf_counter() - t0

    def cycle(self) -> list[tuple]:
        """(kind, verb, url, expected) for one cycle of requests."""
        g = self.golden
        u_raw, u_text = self.rng.choice(self.urls), self.rng.choice(self.urls)
        u_head, u_cite = self.rng.choice(self.truth_urls), self.rng.choice(self.truth_urls)
        new = H.Golden(H.generate([next(self.upload_pool)])[0])
        return [
            ("get", "raw", u_raw, g[u_raw].html),
            ("get", "text", u_text, g[u_text].sha256_text),
            ("get", "header", u_head, g[u_head].header()),
            ("get", "citations", u_cite, g[u_cite].citations()),
            ("put", "upload", new.url, new.html),
            ("get", "text_uploaded", new.url, new.sha256_text),
            ("put", "delete", new.url, None),
            ("get", "raw_deleted", new.url, None),
        ]


def call(svc, verb: str, url: str, payload):
    if verb == "upload":
        return svc.upload(url, payload)
    if verb == "delete":
        return svc.delete(url)
    return getattr(svc, verb.split("_")[0])(url)


def correct(verb: str, reply, expected) -> bool:
    if verb == "upload":
        return reply["rows_inserted"] == 1 and reply["rows_updated"] == 0
    if verb == "delete":
        return reply["rows_deleted"] == 1
    if verb in ("text", "text_uploaded"):
        return H.sha256(reply) == expected
    if verb == "raw_deleted":
        return reply is None
    return reply == expected


def serve(store: Store, seconds: float, tracer, log):
    """Run whole cycles until ``seconds`` have passed; returns the request
    records and the wall time. A traced run also walks the store around
    each request for the storage counters, on the tracer's account."""
    traced = not isinstance(tracer, H.NullTracer)
    table = Path(store.svc.table_dir)
    records = []
    t_start = time.perf_counter()
    while not records or time.perf_counter() - t_start < seconds:
        for kind, verb, url, expected in store.cycle():
            if traced and kind == "put":
                t0 = time.perf_counter()
                before = H.snapshot_dir(table)
                tracer.overhead += time.perf_counter() - t0
            span, t0 = {}, time.perf_counter()
            try:
                with tracer.span(f"{kind}.{verb}") as span:
                    reply = call(store.svc, verb, url, expected)
                    elapsed = time.perf_counter() - t0
                ok = correct(verb, reply, expected)
            except Exception as exc:  # a failed request is a failed operation
                elapsed = time.perf_counter() - t0
                reply, ok = f"{type(exc).__name__}: {exc}", False
            rec = {"kind": kind, "verb": verb, "s": elapsed, "ok": ok,
                   "jobs": len(span.get("job_ids", ()))}
            if traced:
                t0 = time.perf_counter()
                if kind == "put":
                    rec["bytes"] = H.written_since(before, H.snapshot_dir(table))[0]
                if verb == "raw":
                    rec["files"] = H.count_files(table / f"bucket={bucket(url)}")
                tracer.overhead += time.perf_counter() - t0
            if not ok:
                log(f"doc_serve {verb} {url} failed: {str(reply)[:200]}")
            records.append(rec)
    return records, time.perf_counter() - t_start - tracer.overhead


def bucket(url: str) -> int:
    from pdfmef_spark.functions.xxh64 import xxh64_signed

    return xxh64_signed(url.encode("utf-8")) % N_BUCKETS


def run(spark, work: Path, seed: int, seconds: float, trace: bool, log) -> dict:
    store = Store(spark, work, seed)
    t0 = time.perf_counter()
    warm, _ = serve(store, 0, H.NullTracer(), log)
    warmup_s = time.perf_counter() - t0

    tracer = H.Tracer(spark) if trace else H.NullTracer()
    records, wall = serve(store, seconds, tracer, log)

    def med(verbs, key="s"):
        vals = [r[key] for r in records if r["verb"] in verbs]
        return statistics.median(vals), len(vals)

    get_s, n_get = med(("raw", "text", "header", "citations", "text_uploaded", "raw_deleted"))
    put_s, n_put = med(("upload",))
    result = {
        "attempted": len(warm) + len(records),
        "failed": sum(not r["ok"] for r in warm + records),
        "e2e": {"docs_per_s": len(records) / wall},
        "setup_parts": {
            "sources.input_s": store.input_s,
            "store.init_s": store.init_s,
            "setup.warmup_s": warmup_s,
        },
        "report": {
            "serve_ops_per_s": (len(records) / wall, "1/s"),
            "get_p50_ms": (get_s * 1000, f"ms (n={n_get}; too few for a p90)"),
            "put_p50_ms": (put_s * 1000, f"ms (n={n_put})"),
            "cycles": (len(records) // CYCLE_REQUESTS, "count"),
        },
    }
    if trace:
        raw, text, header = (med((v,))[0] * 1000 for v in ("raw", "text", "header"))
        puts = [r for r in records if r["kind"] == "put"]
        result["layers"] = {
            "store.raw_ms": raw,
            "store.files_per_get": med(("raw",), "files")[0],
            "service.extract_ms": text - raw,
            "service.triples_ms": header - text,
            "service.jobs_per_get": statistics.median(
                r["jobs"] for r in records if r["kind"] == "get"
            ),
            "sinks.upsert_ms": med(("upload",))[0] * 1000,
            "sinks.delete_ms": med(("delete",))[0] * 1000,
            "sinks.bytes_rewritten_per_put": statistics.median(r["bytes"] for r in puts),
            "service.jobs_per_put": statistics.median(r["jobs"] for r in puts),
            "trace.overhead_s": tracer.overhead,
        }
    return result
