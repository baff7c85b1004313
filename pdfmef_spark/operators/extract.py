"""Extract stage: html binary -> boilerplate-stripped text (+ links, title).

The Spark-first re-expression of the reference's text-conversion stage
(reference: PDFBoxPlainTextExtractor, src/extractor/csxextract/extractors/
pdfbox.py:15-37, and TEI tag-strip, tei.py:101-118 + csxextract/utils.py:4-11):
instead of one subprocess per document with a 30 s timeout, a vectorized
Arrow batch runs a pure-Python HTML cleaner over each partition; errors
are captured per row into an `error` column (reference analog:
RunnableError values, src/extraction/runnables.py:36-51 — a bad row never
kills a task, which is non-negotiable at 10^12 docs).

Extraction rule (generic semantic-HTML boilerplate removal — not keyed to
the corpus generator):
  1. drop <head>, <script>, <style>, <header>, <nav>, <footer>, <aside>
  2. collect in-content <a href> targets (the `cites` edge candidates;
     reference analog: citation extraction, parscit.py:19-44)
  3. block-level tags delimit lines; strip remaining tags; unescape HTML
     entities; collapse intra-block whitespace; drop empty blocks
The result must be byte-identical per url across runs and parallelism
levels (per-row invariant from BASELINE.json input_hint).
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pdfmef_spark import schemas

_DROP_SUBTREE = re.compile(
    r"(?is)<(script|style|head|header|nav|footer|aside)\b.*?</\1\s*>"
)
_HREF = re.compile(r'(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"')
_BLOCK_TAG = re.compile(
    r"(?is)</?(?:p|h[1-6]|li|div|br|article|main|section|ul|ol|table|thead|"
    r"tbody|tr|td|th|blockquote|pre|figure|figcaption)\b[^>]*>"
)
_ANY_TAG = re.compile(r"(?s)<[^>]*>")
_TITLE_TAG = re.compile(r"(?is)<title[^>]*>(.*?)</title\s*>")
_FIGURE = re.compile(r"(?is)<figure\b.*?</figure\s*>")
_FIGCAPTION = re.compile(r"(?is)<figcaption[^>]*>(.*?)</figcaption\s*>")
# alt values may be double-quoted, single-quoted, or unquoted — all
# three are valid HTML and common on real web pages (ADVICE r4)
_IMG_ALT = re.compile(
    r"""(?is)<img\s[^>]*?alt\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)


def _alt_text(m: "re.Match[str]") -> str:
    return next((g for g in m.groups() if g is not None), "")


def _figure_captions(s: str) -> list[str]:
    """Figure captions in document order, captured before tag strip.

    The reference emits per-document figure entities with captions
    (csxextract/extractors/figures2.py:39-52 + FigureXmlGenerator.pl);
    the web analog: each <figure> contributes its <figcaption> text
    (fallback: its <img alt>), and each standalone <img alt> OUTSIDE a
    figure contributes its alt text. Document order = match offset in
    the original string. The capture never alters `text` — figcaption
    content still renders into its own plain-text block, so per-url
    byte-identity is unaffected."""
    caps: list[tuple[int, str]] = []
    fig_spans: list[tuple[int, int]] = []
    for m in _FIGURE.finditer(s):
        fig_spans.append((m.start(), m.end()))
        sub = m.group(0)
        cm = _FIGCAPTION.search(sub)
        raw = cm.group(1) if cm else None
        if raw is None:
            am = _IMG_ALT.search(sub)
            raw = _alt_text(am) if am else None
        if raw:
            txt = " ".join(html_mod.unescape(_ANY_TAG.sub("", raw)).split())
            if txt:
                caps.append((m.start(), txt))
    for m in _IMG_ALT.finditer(s):
        if any(a <= m.start() < b for a, b in fig_spans):
            continue
        txt = " ".join(html_mod.unescape(_alt_text(m)).split())
        if txt:
            caps.append((m.start(), txt))
    caps.sort(key=lambda t: t[0])
    return [c for _, c in caps]


def extract_html_bytes(
    raw: bytes,
) -> tuple[str, list[str], str | None, list[str], int]:
    """Pure extraction: (text, links, title, figures, n_blocks).
    Deterministic. ``figures`` = captions in document order (see
    :func:`_figure_captions`); the caption capture never alters
    ``text`` — figcaption content still renders into its own block."""
    s = raw.decode("utf-8", errors="replace")
    m = _TITLE_TAG.search(s)
    title = html_mod.unescape(m.group(1)).strip() if m else None
    s = _DROP_SUBTREE.sub("", s)
    links = [h for h in _HREF.findall(s) if h.startswith(("http://", "https://"))]
    figures = _figure_captions(s)
    s = _BLOCK_TAG.sub("\n", s)
    s = _ANY_TAG.sub("", s)
    s = html_mod.unescape(s)
    blocks = [" ".join(line.split()) for line in s.split("\n")]
    blocks = [b for b in blocks if b]
    return "\n".join(blocks), links, title, figures, len(blocks)


def extract_row(raw, extract_fn=extract_html_bytes, runner=None) -> tuple:
    """One page's EXTRACTED fields with per-row error capture:
    (text, links, title, figures, n_blocks, error). The batch stage
    (:func:`extract_pages`) and the per-document service call this same
    function.

    A failure is data, never an exception: a null page or a raising
    `extract_fn` gives all-null fields and ``error = "Type: msg"``; under
    a `runner` (functions/deadline.DeadlineRunner) its verbatim error
    string, e.g. ``"Timeout"``.
    """
    try:
        if raw is None:
            raise ValueError("null html")
        if runner is None:
            return (*extract_fn(bytes(raw)), None)
        out, err = runner.run(extract_fn, bytes(raw))
    except Exception as exc:  # error is data, never a task failure
        return (None, None, None, None, None, f"{type(exc).__name__}: {exc}")
    if err is not None:
        # err is already "Type: msg" (or "Timeout") — carry it verbatim
        # so the error column matches the in-process path exactly
        return (None, None, None, None, None, err)
    return (*out, None)


def extract_pages(
    pages: DataFrame,
    row_timeout: float | None = None,
    extract_fn=extract_html_bytes,
) -> DataFrame:
    """pages(url, html, ...) -> EXTRACTED(url, text, links, title, figures, n_blocks, error).

    Column-pruned input (only url+html cross Arrow), batched execution,
    per-row error capture. At cluster scale this is a pure map stage:
    no shuffle, parallelism = input splits.

    `row_timeout` (seconds) bounds each element's wall clock via a
    killable worker process (functions/deadline.py) — the reference's
    per-document subprocess timeout (pdfbox.py:24) re-expressed for the
    Arrow batch world. A row that exceeds it yields error='Timeout'
    instead of stalling the task. Opt-in: the default hot path runs
    in-process with zero overhead.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdfmef_spark.functions.deadline import DeadlineRunner

        runner = DeadlineRunner(row_timeout) if row_timeout else None
        try:
            for pdf in batches:
                out = [extract_row(raw, extract_fn, runner) for raw in pdf["html"]]
                texts, links, titles, figures, nblocks, errs = (
                    list(zip(*out)) or [()] * 6
                )
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "text": texts,
                        "links": links,
                        "title": titles,
                        "figures": figures,
                        "n_blocks": pd.array(nblocks, dtype="Int32"),
                        "lang": pdf["lang"] if "lang" in pdf else None,
                        "error": errs,
                    }
                )
        finally:
            if runner is not None:
                runner.close()

    cols = ["url", "html"] + (["lang"] if "lang" in pages.columns else [])
    return pages.select(*cols).mapInPandas(run, schema=schemas.EXTRACTED)


def cites_edges(pages: DataFrame, lang_gate: str | None = "en") -> DataFrame:
    """pages(url, html[, lang]) -> (src, dst) citation edges, fully JVM.

    Plan-equivalent shortcut for
    ``extract_triples(extract_pages(pages)).filter(pred == 'cites')``
    when only the cites edge set is needed (graph analytics): the three
    Python-side extraction steps that *produce* links — utf-8 decode
    with replacement, boilerplate-subtree drop, href findall + http(s)
    filter (``extract_html_bytes``) — are each expressible as codegen
    expressions over the raw html, so the whole Python boundary
    (ArrowEvalPython of the full page text, title, figures, blocks)
    disappears from the plan (guide §4: eliminate the JVM<->Python
    boundary; §2.3: this also stops shipping the extracted text through
    the scan). The regexes are byte-identical patterns; Java and Python
    regex semantics agree on them (case-insensitive + DOTALL + lazy
    repetition + backreference). Equality with the Python path is
    pinned by tests/test_extract.py::test_cites_edges_matches_python.

    The error contract degenerates cleanly: a row only ever gets an
    ``error`` (and null links) when its html is null, so the JVM filter
    is ``html IS NOT NULL``; decode(errors=replace) and the regex
    pipeline are total functions of the bytes.
    """
    src = pages
    if lang_gate is not None and "lang" in pages.columns:
        src = src.filter(F.col("lang") == lang_gate)
    cleaned = F.regexp_replace(
        F.decode(F.col("html"), "UTF-8"),
        r"(?is)<(script|style|head|header|nav|footer|aside)\b.*?</\1\s*>",
        "",
    )
    hrefs = F.regexp_extract_all(cleaned, F.lit(r'(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"'), 1)
    return (
        src.filter(F.col("html").isNotNull())
        .select(F.col("url").alias("src"), F.explode(hrefs).alias("dst"))
        .filter(F.col("dst").startswith("http://") | F.col("dst").startswith("https://"))
    )


def text_sha256(extracted: DataFrame) -> DataFrame:
    """(url, sha256_text) — the byte-identity evidence table (JVM-side hash)."""
    return extracted.select(
        "url", F.sha2(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"), 256).alias("sha256_text")
    )
