"""Vocabulary-growth stress inputs: linking recall and precision bounds,
and a full pipeline over the growing page corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdfmef_spark import pipeline as P
from pdfmef_spark.operators import linking
from pdfmef_spark.operators.linking import link_entities
from pdfmef_spark.plans import stress


def test_stress_mentions_vocabulary_grows(spark):
    m1 = stress.stress_mentions(spark, 200)
    m2 = stress.stress_mentions(spark, 800)
    d1 = m1.select("surface").distinct().count()
    d2 = m2.select("surface").distinct().count()
    assert d1 == 3 * 200 and d2 == 3 * 800  # distinct surfaces scale with n


def test_stress_linking_recall_and_precision(spark):
    """Every deterministically-blocked planted pair (canonical~initialed via
    the shared-last-token block, canonical~extended via the two-token-prefix
    block) must be recovered; no cross-entity pair may score above the
    threshold (zero-padded equal-length last names never prefix-match)."""
    n = 500
    links = link_entities(stress.stress_mentions(spark, n)).collect()
    got = {frozenset((r.src, r.dst)) for r in links}
    assert 2 * n <= len(got) <= 3 * n

    import hashlib

    for e in range(n):
        first = f"fn{e % 37}"
        last = "ln" + hashlib.md5(str(e).encode()).hexdigest()[:8]
        canonical = f"{first} {last}"
        initialed = f"f {last}"
        extended = f"{first} {last} labs"
        assert frozenset((canonical, initialed)) in got, e
        assert frozenset((canonical, extended)) in got, e

    # precision: both sides of every link share the entity's padded last name
    for pair in got:
        a, b = sorted(pair)
        la = next(t for t in a.split() if t.startswith("ln"))
        lb = next(t for t in b.split() if t.startswith("ln"))
        assert la == lb, pair


def test_stress_pages_pipeline_links_within_planted_entities(
    spark, tmp_path, monkeypatch
):
    """run_pipeline over 300 stress pages (100 persons, 20 orgs, one
    page per alias variant): no link joins two planted name stems, each
    person's canonical and initialed norms share a component, and with
    the token-block cap below the hot "jr"/"labs" blocks the links
    manifest row reports the dropped buckets."""
    import hashlib
    import json
    import re

    monkeypatch.setattr(linking, "TOKEN_BLOCK_CAP", 8)
    out = str(tmp_path / "kg")
    run = P.run_pipeline(spark, stress.stress_pages(spark, 300), out)

    links = run.df("links").collect()
    assert links
    for stem in (r"\bln[0-9a-f]{8}\b", r"\bog[0-9a-f]{8}\b"):
        for r in links:
            a, b = re.findall(stem, r.src), re.findall(stem, r.dst)
            assert not (a and b) or a == b, r

    comp = {
        r.norm: r.component
        for r in run.df("assignments").filter(F.col("type") == "PERSON").collect()
    }
    for e in range(100):
        last = "ln" + hashlib.md5(str(e).encode()).hexdigest()[:8]
        assert comp[f"fn{e % 37} {last}"] == comp[f"f {last}"], e

    (row,) = (
        spark.read.parquet(f"{out}/manifest")
        .filter((F.col("stage") == "links") & (F.col("status") == "complete"))
        .collect()
    )
    assert json.loads(row.metrics)["buckets_dropped"] >= 1
