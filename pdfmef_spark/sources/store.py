"""Corpus materialization + table readers.

The driver-provided /root/testdata tables (TPC-H-ish + documents/
embeddings/events) are read directly. The `pages` corpus and its golden
tables are generated once per scale factor into a local cache dir as
url-hash-partitioned parquet — the Iceberg-style layout stand-in (no
Iceberg runtime jar in this sandbox; on a real cluster the same write
becomes `df.writeTo('pages').partitionedBy(bucket(N, 'url'))`).

Reference analog: the 3-level id-derived directory layout
(src/extractor/python_wrapper/utils.py:30-33) is pdfmef's hand-rolled
hash partitioning; here the layout is an explicit `pmod(xxhash64(url))`
bucket column so joins on url can co-locate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfmef_spark import corpus

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# <checkout>/.cache, next to the pdfmef_spark package: each checkout
# keeps its own corpus cache unless PDFMEF_SPARK_CACHE points elsewhere
DEFAULT_CACHE = os.environ.get(
    "PDFMEF_SPARK_CACHE",
    os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..", ".cache")),
)
N_BUCKETS = 32
# bump when corpus.py content changes: stale cached corpora regenerate
CORPUS_VERSION = 4  # v4: planted figures (hasFigure) + ordered multi-affiliations


def sf_of_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01


def corpus_dir(sf: float, cache_dir: str = DEFAULT_CACHE) -> str:
    return f"{cache_dir}/corpus/sf{sf:g}"


def materialize_corpus(
    spark: SparkSession, sf: float, cache_dir: str = DEFAULT_CACHE, force: bool = False
) -> str:
    """Generate + write pages and golden tables for `sf` (idempotent)."""
    out = corpus_dir(sf, cache_dir)
    marker = f"{out}/_COMPLETE"
    if _marker_current(marker) and not force:
        return out
    n = corpus.n_pages_for_sf(sf)
    pages = corpus.pages_df(spark, n).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    )
    # url-hash bucket column for co-located joins; round-robin repartition
    # for the file count (hashing the bucket column itself collides and
    # leaves ~1/3 of output files empty -> capped scan parallelism)
    n_files = max(N_BUCKETS, spark.sparkContext.defaultParallelism * 2)
    pages.repartition(n_files).write.mode("overwrite").parquet(f"{out}/pages")
    corpus.golden_triples_df(spark, n).write.mode("overwrite").parquet(f"{out}/golden_triples")
    corpus.golden_surfaces_df(spark, n).write.mode("overwrite").parquet(f"{out}/golden_surfaces")
    corpus.golden_entities_df(spark).write.mode("overwrite").parquet(f"{out}/golden_entities")
    corpus.golden_links_df(spark).write.mode("overwrite").parquet(f"{out}/golden_links")
    corpus.golden_algorithms_df(spark, n).write.mode("overwrite").parquet(f"{out}/golden_algorithms")
    with open(marker, "w") as fh:
        fh.write(f"v={CORPUS_VERSION} n={n}\n")
    return out


def _marker_current(marker: str) -> bool:
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        return fh.readline().strip().startswith(f"v={CORPUS_VERSION} ")


def read_pages(spark: SparkSession, sf: float, cache_dir: str = DEFAULT_CACHE) -> DataFrame:
    out = materialize_corpus(spark, sf, cache_dir)
    # golden text/sha stay out of the pipeline's way: select the input shape
    return spark.read.parquet(f"{out}/pages")


def read_golden(spark: SparkSession, sf: float, name: str, cache_dir: str = DEFAULT_CACHE) -> DataFrame:
    out = materialize_corpus(spark, sf, cache_dir)
    return spark.read.parquet(f"{out}/{name}")
