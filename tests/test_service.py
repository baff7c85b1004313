"""REST-analog serving: bucket-pruned point lookups, verb parity with
the reference service (header/citations/text/file, upload, delete),
HTTP round-trip on the stdlib wrapper."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from pdfmef_spark.service import DocService, render
from pdfmef_spark.sources import store


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    pages = store.read_pages(spark, 0.001).limit(200).drop("bucket")
    s = DocService(spark, str(tmp_path_factory.mktemp("serve") / "docs"), n_buckets=8)
    s.init_from(pages)
    return s


def _some_url(svc):
    return svc.spark.read.parquet(svc.table_dir).select("url").first()["url"]


def test_point_lookup_reads_one_bucket(svc, monkeypatch):
    """Every GET verb reads only the url's bucket=K directory (pruning by
    construction, not by a planner): every parquet file a GET opens lies
    under bucket=K."""
    import os

    from pdfmef_spark import sinks

    opened = []
    real = sinks.pq.ParquetFile

    def recording(source, *a, **kw):
        opened.append(os.path.abspath(source))
        return real(source, *a, **kw)

    monkeypatch.setattr(sinks.pq, "ParquetFile", recording)
    url = _some_url(svc)
    part = os.path.abspath(f"{svc.table_dir}/bucket={svc._bucket(url)}") + os.sep
    for verb in (svc.raw, svc.text, svc.header, svc.citations):
        opened.clear()
        assert verb(url) is not None
        assert opened and all(f.startswith(part) for f in opened), (verb, opened)


def test_init_from_writes_one_file_per_bucket(spark, tmp_path):
    """The store starts with one data file per bucket, however many
    write tasks saw the bucket's rows."""
    import os

    pages = spark.createDataFrame(
        [(f"https://one.example/{i}", b"<html></html>") for i in range(200)],
        "url string, html binary",
    ).repartition(4)
    s = DocService(spark, str(tmp_path / "docs"), n_buckets=8)
    s.init_from(pages)
    parts = [d for d in os.listdir(s.table_dir) if d.startswith("bucket=")]
    assert len(parts) == 8
    for d in parts:
        files = os.listdir(os.path.join(s.table_dir, d))
        assert len([f for f in files if not f.startswith((".", "_"))]) == 1, (d, files)


def test_text_and_header_and_citations(svc):
    url = _some_url(svc)
    text = svc.text(url)
    assert text and isinstance(text, str)
    hdr = svc.header(url)
    assert hdr["url"] == url and "hasTitle" in hdr
    cites = svc.citations(url)
    assert isinstance(cites, list)
    assert svc.raw(url).startswith(b"<")


def _spark_chain(svc, urls):
    """Reference answers from the Spark operator chain over the same
    stored pages: {url: (text, header, citations)}."""
    from pdfmef_spark.operators import extract, triples
    from pdfmef_spark.service import citations_of, header_of

    pages = svc.spark.read.parquet(svc.table_dir).filter(F.col("url").isin(urls))
    extracted = extract.extract_pages(pages).persist()
    try:
        ex = {r.url: r for r in extracted.select("url", "text", "error").collect()}
        trip: dict = {u: [] for u in ex}
        for r in triples.extract_triples(extracted, lang_gate=None).collect():
            trip[r.url].append(r)
    finally:
        extracted.unpersist()
    out = {}
    for u, rows in trip.items():
        # document order: relation rows by subject span; cites/hasFigure
        # rows carry no span and no header field
        rows.sort(key=lambda r: (r.span_start is None, r.span_start or 0))
        text = ex[u].text if ex[u].error is None else None
        out[u] = (text, header_of(u, rows), citations_of(rows))
    return out


def test_get_verbs_match_spark_operator_chain(svc):
    """text/header/citations of every stored document (and of an error
    row with null html) equal the batch Spark chain: extract_pages +
    extract_triples(lang_gate=None), assembled by header_of/citations_of."""
    from pdfmef_spark import sinks

    err_url = "https://error.example/null-html"
    sinks.upsert_row(svc.table_dir, "url", {"url": err_url, "html": None}, svc.n_buckets)
    try:
        urls = [r.url for r in svc.spark.read.parquet(svc.table_dir).select("url").collect()]
        assert err_url in urls and len(urls) > 200
        want = _spark_chain(svc, urls)
        for u in urls:
            assert (svc.text(u), svc.header(u), svc.citations(u)) == want[u], u
        assert want[err_url] == (None, {"url": err_url}, [])
    finally:
        svc.delete(err_url)


def test_header_takes_first_abstract_in_document_order(svc):
    url = "https://uploaded.example/two-abstracts"
    html = (
        "<html><body><main><h1>Two Abstracts</h1>"
        "<p>Abstract: the first body.</p><p>Abstract: the second body.</p>"
        "</main></body></html>"
    )
    svc.upload(url, html)
    try:
        for _ in range(3):
            assert svc.header(url)["hasAbstract"] == "the first body."
    finally:
        svc.delete(url)


def test_store_stays_spark_readable_after_point_writes(svc):
    """Point uploads/deletes rewrite buckets with pyarrow; a full Spark
    read of the table must still decode every column of every file
    (pyarrow's default nanosecond timestamps break it)."""
    import datetime

    ts = datetime.datetime(2024, 5, 6, 7, 8, 9)
    urls = [f"https://uploaded.example/readable-{i}" for i in range(12)]
    try:
        for i, u in enumerate(urls):
            svc.upload(u, f"<html><body><h1>Doc {i}</h1></body></html>", warc_ts=ts)
        for u in urls[::3]:
            svc.delete(u)
        rows = {r.url: r for r in svc.spark.read.parquet(svc.table_dir).collect()}
        assert len(rows) == 200 + len(urls) - len(urls[::3])
        r = rows[urls[1]]
        assert r.warc_ts == ts and r.html.startswith(b"<html>") and r.lang == "en"
        assert r.bucket == svc._bucket(urls[1])
        assert not set(urls[::3]) & set(rows)
    finally:
        for u in urls:
            svc.delete(u)


def test_missing_doc_is_none_not_error(svc):
    assert svc.text("https://nope.example/x") is None
    assert svc.header("https://nope.example/x") is None


def test_upload_then_get_then_delete(svc):
    url = "https://uploaded.example/doc1"
    # first block = title (the corpus convention triples.py keys on)
    html = "<html><head><title>Uploaded Doc</title></head><body><h1>Uploaded Doc</h1><p>Alpha beta gamma delta epsilon zeta eta theta.</p></body></html>"
    stats = svc.upload(url, html)
    assert stats["rows_inserted"] == 1
    assert svc.header(url).get("hasTitle") == "Uploaded Doc"
    # idempotent replace (MERGE semantics)
    stats2 = svc.upload(url, html)
    assert stats2["rows_updated"] == 1 and stats2["rows_inserted"] == 0
    del_stats = svc.delete(url)
    assert del_stats["rows_deleted"] == 1
    assert svc.text(url) is None


def test_upload_cap_rejected(svc):
    with pytest.raises(ValueError, match="5 MB"):
        svc.upload("https://big.example/x", "z" * (5 * 1024 * 1024 + 1))


def test_render_xml_json_parity():
    data = {"url": "u", "hasAuthor": ["a", "b"], "hasTitle": "T"}
    ct, body = render(data, "json")
    assert ct == "application/json" and json.loads(body)["hasTitle"] == "T"
    ct, body = render(data, "xml")
    assert body.startswith("<result>") and "<hasTitle>T</hasTitle>" in body
    with pytest.raises(ValueError, match="Unsupported output"):
        render(data, "yaml")


def test_http_round_trip(svc):
    from pdfmef_spark.service import serve

    server = serve(svc, port=0)
    port = server.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/hello") as r:
            assert r.read() == b"Hello World!\n"
        url = _some_url(svc)
        q = urllib.parse.quote(url, safe="")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/extractor/{q}/header?output=json"
        ) as r:
            hdr = json.loads(r.read())
            assert hdr["url"] == url
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/extractor/{q}/text"
        ) as r:
            assert len(r.read()) > 0
        # 404 for a missing doc
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/extractor/missing/header"
            )
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_stats_count_requests_and_seconds_per_verb(spark, tmp_path):
    """DocService.stats() counts each verb's requests, a rejected one
    included, and the seconds they took."""
    s = DocService(spark, str(tmp_path / "docs"), n_buckets=8)
    s.init_from(spark.createDataFrame(
        [("https://stats.example/0", b"<html><body><p>stored</p></body></html>")],
        "url string, html binary",
    ))
    assert s.stats() == {}
    url = "https://stats.example/new"
    s.upload(url, "<html><body><h1>New</h1><p>Alpha beta gamma.</p></body></html>")
    assert s.text(url)
    assert s.delete(url)["rows_deleted"] == 1
    assert s.raw(url) is None
    with pytest.raises(ValueError, match="5 MB"):
        s.upload(url, "z" * (5 * 1024 * 1024 + 1))
    got = s.stats()
    assert {v: c["requests"] for v, c in got.items()} == {
        "upload": 2, "text": 1, "delete": 1, "raw": 1
    }
    assert all(c["seconds"] > 0 for c in got.values())
