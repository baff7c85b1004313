"""REST-analog document service (reference V1, src/service.py:43-85).

The reference's WSGI service serves per-document verbs — GET
``/extractor/<id>/(header|citations|text|file)``, POST upload (5 MB
cap), DELETE — re-extracting from a temp-dir file on every GET
(src/service.py:43-85, 110-150). The Spark-first analog serves the
same verbs over the ENGINE's bucket-partitioned document store, and
every per-document verb runs in the driver process with NO Spark job
(a one-row Spark job costs hundreds of milliseconds of scheduling and
JVM<->Python round trips; the point path costs milliseconds):

* point lookups compute the url-hash bucket driver-side (the pure-
  python XXH64 that is parity-pinned against Spark's ``xxhash64``,
  functions/xxh64.py) and read exactly ONE hive bucket directory
  (sinks.lookup) — partition pruning by construction, so a GET touches
  1/N of the table's files no matter how big the store grows. The
  bucket's parquet files are opened directly, with no pyarrow Dataset
  scan: the url column is read first, then html from the file that
  holds the url. :meth:`DocService.init_from` writes one file per
  bucket, so a GET opens one file;
* header/citations/text call the SAME pure per-row kernels the batch
  Arrow stages call (extract.extract_row, triples.doc_triples) —
  serving and batch share one implementation and cannot drift (pinned
  by tests/test_service.py against the Spark operator chain);
* upload/delete are the point MERGE/DELETE sinks (sinks.upsert_row,
  sinks.delete_key): copy-on-write of only the affected bucket with
  pyarrow, through the same temp-dir-then-rename swap as the bulk
  DataFrame sinks, with the reference's 5 MB upload cap enforced as a
  rejected request rather than a cgi.maxlen crash;
* xml/json rendering mirrors the reference's ``output=xml|json`` param
  (stdlib only — the reference shells out to xmltodict).

Only :meth:`DocService.init_from`, the bulk load, is a Spark job.

``serve()`` wraps the service in a stdlib ``http.server`` for live
parity demos. It is single-threaded (``HTTPServer``, not
``ThreadingHTTPServer``): requests run one at a time, so a read never
races the two renames of a bucket swap. In production the driver
process would sit behind a real WSGI front exactly like the reference
does, with writes serialized against reads of the same bucket.
"""

from __future__ import annotations

import datetime
import hashlib
import json
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfmef_spark import sinks
from pdfmef_spark.operators import extract, triples
from pdfmef_spark.streaming.ingest import UPLOAD_CAP_BYTES
HEADER_PREDS = ("hasTitle", "hasAuthor", "hasKeyword", "affiliatedWith", "hasAbstract")
_SINGLE_VALUED = ("hasTitle", "hasAbstract")


def header_of(url: str, rows) -> dict:
    """Title/authors/keywords/affiliations/abstract of one document from
    its TRIPLES rows in document order (tuples or Rows in schema column
    order). A single-valued field keeps its FIRST value in document
    order; multi-valued fields are sorted."""
    out: dict = {"url": url}
    for r in rows:
        pred, obj = r[2], r[3]
        if pred in _SINGLE_VALUED:
            out.setdefault(pred, obj)
        elif pred in HEADER_PREDS:
            out.setdefault(pred, []).append(obj)
    return {k: sorted(v) if isinstance(v, list) else v for k, v in out.items()}


def citations_of(rows) -> list[str]:
    """Sorted distinct ``cites`` targets of one document's TRIPLES rows."""
    return sorted({r[3] for r in rows if r[2] == "cites"})


class DocService:
    """Per-document serving over a bucket-partitioned parquet store."""

    def __init__(self, spark: SparkSession, table_dir: str, n_buckets: int = 8):
        self.spark = spark
        self.table_dir = table_dir
        self.n_buckets = n_buckets

    # -- store management ---------------------------------------------------

    def init_from(self, pages: DataFrame) -> None:
        """Materialize the serving store (hive layout on the url bucket).
        Each bucket's rows go to one write task, so every bucket starts
        as one data file: a GET opens one file, not one per task that
        saw the bucket."""
        (
            pages.withColumn(
                sinks.BUCKET_COL, sinks.bucket_of(F.col("url"), self.n_buckets)
            )
            .repartition(sinks.BUCKET_COL)
            .write.mode("overwrite")
            .partitionBy(sinks.BUCKET_COL)
            .parquet(self.table_dir)
        )

    def _bucket(self, url: str) -> int:
        return sinks.bucket_of_key(url, self.n_buckets)

    def _html(self, url: str) -> tuple[bool, bytes | None]:
        """(found, stored html) from a one-bucket point lookup."""
        t = sinks.lookup(self.table_dir, "url", url, self.n_buckets, columns=["html"])
        if t is None or t.num_rows == 0:
            return False, None
        return True, t["html"][0].as_py()

    def _extracted(self, url: str) -> tuple | None:
        """extract.extract_row of the stored page, None if absent."""
        found, html = self._html(url)
        return extract.extract_row(html) if found else None

    def _triples(self, url: str) -> list[tuple] | None:
        ex = self._extracted(url)
        if ex is None:
            return None
        text, links, _title, figures, _n_blocks, _error = ex
        # no lang gate here: a point GET is an explicit request for THIS
        # document (the batch gate remains in the pipeline path)
        return triples.doc_triples(url, text, links, figures)

    # -- GET verbs (reference Extractor.GET methods) ------------------------

    def text(self, url: str) -> str | None:
        """Extracted plain text (reference `method == 'text'`); None for a
        missing document or one whose extraction recorded an error."""
        ex = self._extracted(url)
        if ex is None or ex[-1] is not None:
            return None
        return ex[0]

    def header(self, url: str) -> dict | None:
        """Title/authors/keywords/affiliations/abstract as a dict
        (reference `method == 'header'` -> TEItoHeader fields)."""
        rows = self._triples(url)
        return None if rows is None else header_of(url, rows)

    def citations(self, url: str) -> list[str] | None:
        """Outgoing cites targets (reference `method == 'citations'`)."""
        rows = self._triples(url)
        return None if rows is None else citations_of(rows)

    def raw(self, url: str) -> bytes | None:
        """The stored source bytes (reference `method == 'file'`); None
        for a missing document or one stored without bytes."""
        return self._html(url)[1]

    # -- mutation verbs -----------------------------------------------------

    def upload(self, url: str, html: str | bytes, warc_ts=None) -> dict:
        """POST analog: MERGE the document into its bucket (one-match
        contract; oversized payloads rejected like the reference's cap).
        The row takes the same PAGES shape the batch/stream ingest uses
        (streaming/ingest.py) — one document schema everywhere — cast to
        the store's own schema (sinks.upsert_row)."""
        raw = html.encode("utf-8") if isinstance(html, str) else bytes(html)
        if len(raw) > UPLOAD_CAP_BYTES:
            raise ValueError(
                f"upload exceeds {UPLOAD_CAP_BYTES} bytes (reference 5 MB cap)"
            )
        row = {
            "url": url,
            "warc_ts": warc_ts or datetime.datetime(1970, 1, 1),
            "html": raw,
            "text": "",
            "lang": "en",
            "sha256_text": hashlib.sha256(b"").hexdigest(),
        }
        return sinks.upsert_row(self.table_dir, "url", row, self.n_buckets)

    def delete(self, url: str) -> dict:
        """DELETE analog: copy-on-write delete of one url's bucket."""
        return sinks.delete_key(self.table_dir, "url", url, self.n_buckets)


# -- output rendering (reference output=xml|json param) ---------------------

def render(data, output: str = "json") -> tuple[str, str]:
    """-> (content_type, body). Mirrors the reference's xml/json switch."""
    if output == "json":
        return "application/json", json.dumps(data, sort_keys=True)
    if output == "xml":
        return "text/xml", _to_xml("result", data)
    raise ValueError(
        'Unsupported output format. Options are: "xml" (default) and "json"'
    )


def _to_xml(tag: str, data) -> str:
    if isinstance(data, dict):
        inner = "".join(_to_xml(k, v) for k, v in sorted(data.items()))
    elif isinstance(data, (list, tuple)):
        inner = "".join(_to_xml("item", v) for v in data)
    else:
        inner = escape("" if data is None else str(data))
    return f"<{tag}>{inner}</{tag}>"


# -- stdlib HTTP wrapper ----------------------------------------------------

def serve(service: DocService, port: int = 0):
    """Serve the reference's URL shape on a stdlib HTTPServer; returns the
    (started, unbound-thread) server — caller shuts it down. Route table
    mirrors src/service.py `urls`:

        GET  /hello                         -> liveness
        GET  /extractor/<id>/(header|citations|text|file)
        POST /extractor                     -> upload (json {url, html})
        DELETE /extractor/<id>
    """
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, unquote, urlparse

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def _send(self, code: int, ctype: str, body: str) -> None:
            raw = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(raw)))
            self.end_headers()
            self.wfile.write(raw)

        def do_GET(self):
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            if u.path == "/hello":
                return self._send(200, "text/plain", "Hello World!\n")
            if len(parts) == 3 and parts[0] == "extractor":
                url, method = unquote(parts[1]), parts[2]
                fmt = parse_qs(u.query).get("output", ["json"])[0]
                fn = {
                    "header": service.header,
                    "citations": service.citations,
                    "text": service.text,
                    "file": service.raw,
                }.get(method)
                if fn is None:
                    return self._send(400, "text/plain", "bad method")
                try:
                    data = fn(url)
                except Exception as exc:  # reference: web.internalerror()
                    return self._send(500, "text/plain", str(exc))
                if data is None:
                    return self._send(404, "text/plain", "not found")
                if method in ("text", "file"):
                    if isinstance(data, bytes):
                        data = data.decode("utf-8", errors="replace")
                    return self._send(200, "text/plain", data)
                try:
                    ctype, body = render(data, fmt)
                except ValueError as exc:
                    return self._send(400, "text/plain", str(exc))
                return self._send(200, ctype, body)
            return self._send(404, "text/plain", "not found")

        def do_POST(self):
            if self.path.rstrip("/") != "/extractor":
                return self._send(404, "text/plain", "not found")
            n = int(self.headers.get("Content-Length", 0))
            if n > UPLOAD_CAP_BYTES:
                return self._send(413, "text/plain", "payload too large")
            try:
                payload = json.loads(self.rfile.read(n))
                stats = service.upload(payload["url"], payload["html"])
            except ValueError as exc:
                return self._send(413, "text/plain", str(exc))
            except Exception as exc:
                return self._send(500, "text/plain", str(exc))
            return self._send(200, "application/json", json.dumps(stats))

        def do_DELETE(self):
            parts = [p for p in self.path.split("/") if p]
            if len(parts) == 2 and parts[0] == "extractor":
                try:
                    stats = service.delete(unquote(parts[1]))
                except Exception as exc:
                    return self._send(500, "text/plain", str(exc))
                return self._send(200, "application/json", json.dumps(stats))
            return self._send(404, "text/plain", "not found")

    server = HTTPServer(("127.0.0.1", port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
