"""Partition-parallel HTTP fetch source (S3 analog).

The reference's HTTPWrapper pulls work batches from a REST endpoint on
the DRIVER (`getdocs.xml?n=batchSize`, one process, one socket —
src/extractor/python_wrapper/wrappers.py:209-237). At web scale the
fetch itself must be data-parallel: here the url table is a DataFrame
and every partition fetches its own urls inside an Arrow batch stage,
so 1000 executors fetch 1000-wide with no driver bottleneck.

Error discipline matches the extract stage: a failed url is an error
ROW (url, error, attempts), never a failed task — retries with
deterministic exponential backoff happen per element, and an optional
DeadlineRunner hard-kills a hung fetch (reference analog: per-document
subprocess timeouts, csxextract/extractors/pdfbox.py:24).

The default transport is stdlib urllib (no extra deps); tests inject
deterministic fakes. This sandbox has no network — the default
transport is exercised only for its error path.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

from pdfmef_spark.functions.zipimports import install_stable_zip_importers

FETCHED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def _urllib_transport(url: str) -> bytes:
    from urllib.request import urlopen

    with urlopen(url, timeout=30) as resp:  # noqa: S310 — source operator
        return resp.read()


def fetch_pages(
    urls: DataFrame,
    transport: Callable[[str], bytes] | None = None,
    max_retries: int = 2,
    backoff_s: float = 0.5,
    row_timeout: float | None = None,
    sleep: Callable[[float], None] = time.sleep,
    url_col: str = "url",
) -> DataFrame:
    """URLS -> FETCHED(url, html, attempts, error), partition-parallel.

    Each element gets up to 1 + max_retries attempts with exponential
    backoff; `row_timeout` (seconds) bounds one attempt's wall clock via
    a killable worker process. All failures become error rows.
    """
    transport = transport or _urllib_transport
    src = urls.select(url_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        install_stable_zip_importers()
        runner = None
        if row_timeout:
            from pdfmef_spark.functions.deadline import DeadlineRunner

            runner = DeadlineRunner(row_timeout)
        try:
            for pdf in batches:
                rows = []
                for url in pdf[url_col]:
                    html, err, attempts = None, None, 0
                    while attempts <= max_retries:
                        attempts += 1
                        if runner is not None:
                            html, err = runner.run(transport, url)
                        else:
                            try:
                                html, err = transport(url), None
                            except Exception as exc:
                                html, err = None, f"{type(exc).__name__}: {exc}"
                        if err is None:
                            break
                        if attempts <= max_retries:
                            sleep(backoff_s * (2 ** (attempts - 1)))
                    rows.append(
                        {"url": url, "html": html, "attempts": attempts, "error": err}
                    )
                yield pd.DataFrame(rows, columns=[f.name for f in FETCHED.fields])
        finally:
            if runner is not None:
                runner.close()

    return src.mapInPandas(run, schema=FETCHED)
