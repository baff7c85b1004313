"""Mention detection + OpenIE-style (subj, pred, obj) triple extraction.

Spark-first re-expression of the reference's per-document entity
extractors (header: title/authors/keywords, src/extractor/csxextract/
extractors/tei.py:31-92; citations: parscit.py:19-44; sample regex
extractor: src/extraction/test/sample.py:14-26): one Arrow-batched
pass over extracted text emits typed mention rows and triple rows.

Relation patterns (closed predicate set, FIXTURES.md §2):
  - "<X> works for <Y>."        -> (X, worksFor, Y)        PERSON->ORG
  - "<X> is located in <Y>."    -> (X, locatedIn, Y)       ORG->PLACE
  - "<X> was founded by <Y>."   -> (X, foundedBy, Y)       ORG->PERSON
  - "<X> is affiliated with <Y>." -> (X, affiliatedWith, Y) PERSON->ORG
  - first block                 -> (url, hasTitle, block)
  - "By A and B" byline block   -> (url, hasAuthor, A/B)
  - "Abstract: ..." block       -> (url, hasAbstract, body) with a second
    HTML unescape of the body (reference: TEItoHeader abstract handling,
    csxextract/extractors/tei.py:81-92 — heading strip + double unescape)
  - "Tags: a, b" block          -> (url, hasKeyword, each)
  - in-content <a href>         -> (url, cites, href)   [from extract stage]
  - figure captions             -> (url, hasFigure, caption) [from extract
    stage; reference: per-doc figure entities, figures2.py:39-52]
  - "<X> is affiliated with <U1>, <U2>, and <U3>." -> (X, affiliatedWith,
    institution) + (X, affiliationString, "inst | dept | lab") with units
    ordered institution > department > laboratory, ties in sentence order
    (reference: the orgName comparator, tei.py:124-143)

Sentence boundaries respect person-name initials ("G. Lovelace works
for ...") — a '.' preceded by a lone capital letter is not a boundary.
Everything is per-row pure Python inside an Arrow batch; no shuffle.
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pdfmef_spark import schemas

_PATTERNS = [
    (" works for ", "worksFor", "PERSON", "ORG"),
    (" is located in ", "locatedIn", "ORG", "PLACE"),
    (" was founded by ", "foundedBy", "ORG", "PERSON"),
    (" is affiliated with ", "affiliatedWith", "PERSON", "ORG"),
]
_TAGS_PREFIX = "Tags: "
_ABSTRACT_PREFIX = "Abstract: "
_BYLINE = re.compile(r"^By (.+)$")

# affiliation-unit ranking (reference: the orgName type comparator,
# csxextract/extractors/tei.py:124-143 — institution > department >
# laboratory, pipe-joined in that order)
def _affil_rank(unit: str) -> int:
    low = unit.lower()
    if low.endswith("laboratory") or low.endswith("lab"):
        return 2
    if low.endswith("department") or low.endswith("dept"):
        return 1
    return 0  # institution


def _parse_affil_units(tail: str) -> list[str]:
    """Split a multi-unit affiliation list into unit strings.

    'the A Department, B Labs, and the C Laboratory' ->
    ['A Department', 'B Labs', 'C Laboratory'] (leading 'the '/'and '
    dropped, original casing kept)."""
    units = []
    for part in tail.split(", "):
        part = part.strip()
        if part.lower().startswith("and "):
            part = part[4:]
        if part.lower().startswith("the "):
            part = part[4:]
        if part:
            units.append(part)
    return units


def _is_boundary(s: str, k: int) -> bool:
    """Is s[k] (one of .!?) a real sentence boundary (not a name initial)?"""
    c = s[k]
    if c in "!?":
        return True
    if c != ".":
        return False
    # "G." pattern: single capital preceded by start/space
    if k >= 1 and s[k - 1].isupper() and (k == 1 or not s[k - 2].isalnum()):
        return False
    return True


def _prev_boundary(s: str, pos: int) -> int:
    """Index just after the previous sentence boundary before pos (>=0)."""
    k = pos - 1
    while k >= 0:
        if s[k] in ".!?" and _is_boundary(s, k):
            # skip following spaces
            j = k + 1
            while j < pos and s[j] == " ":
                j += 1
            return j
        k -= 1
    return 0


def _next_boundary(s: str, pos: int) -> int:
    """Index of the next sentence-boundary char at/after pos (or len(s))."""
    k = pos
    while k < len(s):
        if s[k] in ".!?" and _is_boundary(s, k):
            return k
        k += 1
    return len(s)


def extract_relations(text: str) -> list[tuple]:
    """Relation triples from one page's text.

    Returns [(subj, pred, obj, subj_type, obj_type, span_start, span_end, conf)].
    Spans index the *subject* mention in `text` (FIXTURES.md §2 contract).
    """
    out: list[tuple] = []
    if not text:
        return out
    blocks = text.split("\n")
    off = 0
    for bi, block in enumerate(blocks):
        if bi == 0:
            out.append(("__URL__", "hasTitle", block, "DOC", "TERM", off, off + len(block), 1.0))
        elif (m := _BYLINE.match(block)) and bi == 1:
            cursor = off + 3
            for name in m.group(1).split(" and "):
                out.append(("__URL__", "hasAuthor", name, "DOC", "PERSON",
                            cursor, cursor + len(name), 0.95))
                cursor += len(name) + len(" and ")
        elif block.startswith(_ABSTRACT_PREFIX):
            body = block[len(_ABSTRACT_PREFIX):]
            # second unescape: the extract stage already unescaped the page
            # once; header entities get the reference's double-unescape
            out.append(("__URL__", "hasAbstract", html_mod.unescape(body), "DOC",
                        "TERM", off + len(_ABSTRACT_PREFIX), off + len(block), 0.95))
        elif block.startswith(_TAGS_PREFIX):
            cursor = off + len(_TAGS_PREFIX)
            for kw in block[len(_TAGS_PREFIX):].split(", "):
                out.append(("__URL__", "hasKeyword", kw, "DOC", "TERM",
                            cursor, cursor + len(kw), 0.95))
                cursor += len(kw) + 2
        else:
            for marker, pred, st, ot in _PATTERNS:
                start = 0
                while (k := block.find(marker, start)) != -1:
                    s0 = _prev_boundary(block, k)
                    e1 = _next_boundary(block, k + len(marker))
                    subj = block[s0:k]
                    obj = block[k + len(marker):e1]
                    if subj and obj and subj[0].isupper():
                        if pred == "affiliatedWith" and ", " in obj:
                            # multi-unit affiliation list (reference:
                            # ordered orgName affiliations, tei.py:124-143):
                            # emit the person->institution link triple plus
                            # the full ordered pipe-joined affiliation
                            # string as a doc-style attribute
                            units = _parse_affil_units(obj)
                            if units and all(_affil_rank(u) > 0 for u in units):
                                # no unit *looks* like an institution —
                                # e.g. a real institution named 'Lincoln
                                # Laboratory' (ADVICE r4). The suffix
                                # heuristic would demote it; keep sentence
                                # order instead, first unit = institution.
                                ordered = units
                            else:
                                ordered = sorted(units, key=_affil_rank)
                            inst = ordered[0] if ordered else obj
                            out.append((subj, pred, inst, st, ot,
                                        off + s0, off + s0 + len(subj), 1.0))
                            out.append((subj, "affiliationString",
                                        " | ".join(ordered), st, "TERM",
                                        off + s0, off + s0 + len(subj), 0.95))
                        else:
                            out.append((subj, pred, obj, st, ot,
                                        off + s0, off + s0 + len(subj), 1.0))
                    start = k + len(marker)
        off += len(block) + 1
    return out


def doc_triples(
    url: str,
    text: str | None,
    links=None,
    figures=None,
    relation_fn=extract_relations,
    runner=None,
) -> list[tuple]:
    """One document's TRIPLES rows (tuples in schema column order), in
    document order: the relation rows of `relation_fn` with the
    ``__URL__`` subject replaced by `url`, then a ``cites`` row per link
    and a ``hasFigure`` row per figure caption; exact duplicates on
    (url, subj, pred, obj) collapse to their first occurrence. The batch
    stage (:func:`extract_triples`) and the per-document service call
    this same function.

    Under a `runner` (functions/deadline.DeadlineRunner) a relation_fn
    that times out or raises yields ONE sentinel row
    (pred='__error__', obj_type='ERR', obj=the error string) instead.
    """
    if runner is not None:
        rels, err = runner.run(relation_fn, text or "")
        if err is not None:
            return [(url, url, "__error__", err, "DOC", "ERR", None, None, 0.0)]
    else:
        rels = relation_fn(text or "")
    rows = [
        (url, url if s == "__URL__" else s, p, o, st, ot, a, b, conf)
        for (s, p, o, st, ot, a, b, conf) in rels
    ]
    # per-doc figure entities (reference: figures2.py emits figure+caption
    # records per document); links/figures may be numpy arrays, so test
    # for None rather than truth
    for pred, objs, obj_type in (("cites", links, "DOC"), ("hasFigure", figures, "TERM")):
        if objs is not None:
            rows.extend((url, url, pred, o, "DOC", obj_type, None, None, 1.0) for o in objs)
    seen: set[tuple] = set()
    out = []
    for r in rows:
        if r[1:4] not in seen:
            seen.add(r[1:4])
            out.append(r)
    return out


def extract_triples(
    extracted: DataFrame,
    lang_gate: str | None = "en",
    row_timeout: float | None = None,
    relation_fn=extract_relations,
) -> DataFrame:
    """EXTRACTED -> TRIPLES. Pure map stage (no shuffle); the lang gate is
    a pushed-down predicate (reference analog: AcademicPaperFilter gating
    every downstream extractor, csxextract/filters.py:9-48).

    `row_timeout` (seconds) bounds each document's relation-extraction
    wall clock via the killable-worker harness (functions/deadline.py)
    — regex over untrusted text is the classic catastrophic-
    backtracking risk, and the reference bounds its equivalent stage
    with a per-document subprocess timeout (parscit.py:31). A row that
    exceeds the deadline (or raises) yields ONE sentinel triple
    (pred='__error__', obj_type='ERR', obj=the error string, e.g.
    'Timeout') instead of stalling the task; the batch survives.
    Sentinels never enter mentions/linking (mentions_from_triples
    drops ERR slots). Opt-in: the default hot path runs in-process.
    """
    src = extracted
    if lang_gate is not None and "lang" in src.columns:
        src = src.filter((F.col("lang") == lang_gate) & F.col("error").isNull())

    if row_timeout is None and relation_fn is extract_relations:
        # Production fast path (guide §4): cites / hasFigure rows are
        # 1:1 images of the `links` / `figures` arrays the extract
        # stage already computed, so they are emitted as JVM explodes —
        # the Python stage receives ONLY (url, text) and emits only the
        # pattern-matched relation rows (~a dozen per doc). The legacy
        # path built one Python dict per cites row (~5 per doc, the
        # bulk of the boundary traffic at scale: 2.7M dict+DataFrame
        # rows at 500k docs) and shipped links+figures arrays across
        # Arrow for no computation. Semantics are identical: the only
        # behavioural wrinkle of the legacy loop — a row whose
        # relation_fn raises also drops its links/figures — cannot fire
        # here because extract_relations is a total function of str
        # (and the row_timeout / custom-relation_fn paths keep the
        # legacy loop). Output equality incl. the trailing
        # dropDuplicates is pinned by tests/test_triples.py.
        return _extract_triples_fast(src)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdfmef_spark.functions.deadline import DeadlineRunner

        runner = DeadlineRunner(row_timeout) if row_timeout else None
        try:
            yield from _run_batches(batches, runner)
        finally:
            if runner is not None:
                runner.close()

    def _run_batches(batches, runner) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            figs = pdf["figures"] if "figures" in pdf else [None] * len(pdf)
            for url, text, links, figures in zip(
                pdf["url"], pdf["text"], pdf["links"], figs
            ):
                try:
                    rows.extend(doc_triples(url, text, links, figures, relation_fn, runner))
                except Exception:
                    # row-level containment; a malformed page yields no triples
                    continue
            yield pd.DataFrame(rows, columns=[f.name for f in schemas.TRIPLES])

    cols = ["url", "text", "links"] + (
        ["figures"] if "figures" in src.columns else []
    )
    out = src.select(*cols).mapInPandas(run, schema=schemas.TRIPLES)
    # exact dedup — same triple re-stated on a page collapses to one row
    return out.dropDuplicates(["url", "subj", "pred", "obj"])


def _extract_triples_fast(src: DataFrame) -> DataFrame:
    """Relation rows via Python over (url, text) only; cites/hasFigure
    rows via JVM explodes of the extract stage's links/figures arrays.
    See extract_triples for the equivalence argument."""

    def run_rel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schemas.TRIPLES]
        for pdf in batches:
            rows: list[tuple] = []
            for url, text in zip(pdf["url"], pdf["text"]):  # noqa: B905
                rows.extend(doc_triples(url, text))
            yield pd.DataFrame(rows, columns=cols)

    rel = src.select("url", "text").mapInPandas(run_rel, schema=schemas.TRIPLES)

    def _attr_rows(arr_col: str, pred: str, obj_type: str) -> DataFrame:
        return src.select("url", F.explode(arr_col).alias("o")).select(
            F.col("url"),
            F.col("url").alias("subj"),
            F.lit(pred).alias("pred"),
            F.col("o").alias("obj"),
            F.lit("DOC").alias("subj_type"),
            F.lit(obj_type).alias("obj_type"),
            F.lit(None).cast("int").alias("span_start"),
            F.lit(None).cast("int").alias("span_end"),
            F.lit(1.0).alias("conf"),
        )

    out = rel.unionByName(_attr_rows("links", "cites", "DOC"))
    if "figures" in src.columns:
        out = out.unionByName(_attr_rows("figures", "hasFigure", "TERM"))
    return out.dropDuplicates(["url", "subj", "pred", "obj"])


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Typed entity mentions = subjects + objects of non-DOC triple slots.

    Single-pass: both slots explode from one scan (a union of two
    projections would compute the whole upstream extract chain twice
    when the triples table is not materialized)."""
    both = triples.select(
        "url",
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("surface"),
                    F.col("subj_type").alias("type"),
                    F.col("span_start").alias("span_start"),
                    F.col("span_end").alias("span_end"),
                ),
                F.struct(
                    F.col("obj").alias("surface"),
                    # title/abstract/caption/affiliation strings are doc-style
                    # attributes, not entity mentions — they must not enter
                    # the linking vocabulary
                    F.when(
                        F.col("pred").isin(
                            "hasTitle", "hasAbstract", "hasFigure",
                            "affiliationString",
                        ),
                        F.lit("DOC"),
                    )
                    .otherwise(F.col("obj_type"))
                    .alias("type"),
                    F.lit(None).cast("int").alias("span_start"),
                    F.lit(None).cast("int").alias("span_end"),
                ),
            )
        ).alias("m"),
    )
    return (
        # DOC slots are documents, ERR slots are row_timeout sentinels —
        # neither is an entity mention
        both.filter(~F.col("m.type").isin("DOC", "ERR"))
        .select("url", "m.surface", "m.type", "m.span_start", "m.span_end")
        .dropDuplicates(["url", "surface", "type"])
    )
