"""Property-based tests (hypothesis): normalization idempotence, scoring
symmetry, salted-agg invariance, extraction determinism."""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pdfmef_spark.functions import normalize_surface, salted_aggregate
from pdfmef_spark.operators.linking import _char_jaccard, _token_score

names = st.text(
    alphabet=string.ascii_letters + " .,&-", min_size=1, max_size=40
).filter(lambda s: s.strip())


@settings(max_examples=200, deadline=None)
@given(names, names)
def test_pair_scores_symmetric_and_bounded(a, b):
    t1, t2 = _token_score(a.lower(), b.lower()), _token_score(b.lower(), a.lower())
    assert abs(t1 - t2) < 1e-9
    assert 0.0 <= t1 <= 1.0
    j1, j2 = _char_jaccard(a, b), _char_jaccard(b, a)
    assert abs(j1 - j2) < 1e-12 and 0.0 <= j1 <= 1.0


@settings(max_examples=50, deadline=None)
@given(names)
def test_token_score_identity(a):
    assert _token_score(a.lower().strip(), a.lower().strip()) == 1.0


def test_normalize_idempotent(spark):
    """normalize(normalize(x)) == normalize(x) for corpus-like surfaces."""
    samples = [
        "Alan Turing", "Turing, Alan", "A. Turing", "The Acme Data Labs",
        "Smith & Wesson Analytics", "  spaced   out  ", "UPPER lower",
        "Berners-Lee, Tim", "global  web   consortium",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    once = df.select(normalize_surface(F.col("s")).alias("n1"))
    twice = once.select(F.col("n1"), normalize_surface(F.col("n1")).alias("n2"))
    bad = twice.filter(F.col("n1") != F.col("n2")).collect()
    assert bad == []


def test_salted_aggregate_equals_plain(spark):
    """Salted two-phase count/sum == plain groupBy on a Zipfian key set."""
    df = (
        spark.range(0, 20000)
        .withColumn("key", F.when(F.col("id") % 10 < 7, F.lit("hub")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ))
        .withColumn("v", (F.col("id") % 13).cast("double"))
    )
    plain = {
        (r.key): (r.n, r.s)
        for r in df.groupBy("key").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    salted = {
        (r.key): (r.n, r.s)
        for r in salted_aggregate(
            df,
            ["key"],
            [F.count("*").alias("pn"), F.sum("v").alias("ps")],
            [F.sum("pn").alias("n"), F.sum("ps").alias("s")],
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_extraction_deterministic_across_runs(spark, smoke_pages):
    from pdfmef_spark.operators import extract

    a = extract.text_sha256(extract.extract_pages(smoke_pages))
    b = extract.text_sha256(extract.extract_pages(smoke_pages.repartition(17)))
    assert a.join(b, ["url", "sha256_text"], "inner").count() == smoke_pages.count()


def test_xxh64_matches_spark(spark):
    """Pure-python XXH64 is bit-compatible with Spark's xxhash64 (the
    bootstrap materializer's bucket column depends on it)."""
    from pdfmef_spark.functions.xxh64 import xxh64_signed

    vals = ["", "a", "hello world", "x" * 31, "y" * 32, "z" * 100,
            "héllo wörld 漢字🌐", "https://site0001.example.org/articles/00000042"]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in df.collect():
        assert xxh64_signed(r.s.encode("utf-8")) == r.h


def test_bootstrap_matches_spark_materializer(spark, tmp_path):
    """The Spark-free (pyarrow) corpus materializer and the distributed
    Spark one produce identical rows — whichever side the driver runs
    first, both engines read the same corpus."""
    from pdfmef_spark.sources import bootstrap, store

    sf = 0.0001  # 50 pages
    a = bootstrap.ensure_corpus(sf, cache_dir=str(tmp_path / "py"))
    b = store.materialize_corpus(spark, sf, cache_dir=str(tmp_path / "spark"))
    for tbl in ("pages", "golden_triples", "golden_surfaces", "golden_algorithms"):
        x = spark.read.parquet(f"{a}/{tbl}")
        y = spark.read.parquet(f"{b}/{tbl}")
        assert sorted(x.columns) == sorted(y.columns), tbl
        cols = sorted(x.columns)
        assert x.count() == y.count(), tbl
        assert x.select(cols).exceptAll(y.select(cols)).count() == 0, tbl
        assert y.select(cols).exceptAll(x.select(cols)).count() == 0, tbl


def test_store_cache_defaults_to_checkout(monkeypatch):
    """Without PDFMEF_SPARK_CACHE the corpus cache is the .cache dir of
    the checkout that holds the imported package, so a second checkout
    never shares the first one's cache; the variable still overrides."""
    import importlib
    import os

    import pdfmef_spark
    from pdfmef_spark.sources import store

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(pdfmef_spark.__file__)))
    monkeypatch.delenv("PDFMEF_SPARK_CACHE", raising=False)
    try:
        fresh = importlib.reload(store)
        assert fresh.DEFAULT_CACHE == os.path.join(checkout, ".cache")
        assert fresh.corpus_dir(0.001) == f"{checkout}/.cache/corpus/sf0.001"
        monkeypatch.setenv("PDFMEF_SPARK_CACHE", "/elsewhere/cache")
        assert importlib.reload(store).DEFAULT_CACHE == "/elsewhere/cache"
    finally:
        monkeypatch.undo()
        importlib.reload(store)
