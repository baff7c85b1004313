"""Named query catalog — the driver-checked operator inventory.

Two families:

* ``kg_*`` — pipeline stages over the engine-generated ``pages`` corpus.
  No DuckDB oracle exists for them (the corpus is ours), so the driver
  records the weaker rows-only check; their correctness gate is the
  pytest golden suite (P/R, byte-identity, span checks).

* everything else — relational / dedup / similarity / text-analysis
  operators over the driver's pre-registered testdata views
  (region nation customer supplier part orders lineitem events
  documents embeddings), each with an equivalent DuckDB SQL oracle.
  Every computed column is aliased identically on both sides (the
  driver hash-compares after sorting columns by name).

Float-valued aggregates are rounded on both sides so the value hash is
stable across Spark/DuckDB float summation orders.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


# Placeholder token interpolated into the kg_* oracle SQL at registration
# time; `oracles()` substitutes the real corpus cache path when the dict
# is requested. The driver's gate runs at sf=0.01 (the default); setting
# SPARK_GRAFT_ORACLE_SF retargets every corpus-reading oracle to another
# scale so the same gate is meaningful at e.g. sf0.1 (tools/oracle_check.py
# does this automatically from its sf_dir argument).
_KG = "__KG_DIR__"


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def catalog() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    # the kg_* oracles read_parquet() the materialized corpus/golden
    # tables — build them (Spark-free) if the Spark side hasn't already.
    # Scale comes from SPARK_GRAFT_ORACLE_SF (default 0.01, the driver's
    # gate scale); the _KG placeholder in each SQL string is substituted
    # here so one registration serves every sf.
    import os

    from pdfmef_spark.sources import store

    sf = float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    try:
        from pdfmef_spark.sources import bootstrap

        bootstrap.ensure_corpus(sf)
    except Exception as exc:  # pragma: no cover — driver still gets the dict
        import sys

        print(f"corpus bootstrap failed: {exc!r}", file=sys.stderr)
    kg_dir = store.corpus_dir(sf)
    return {name: sql.replace(_KG, kg_dir) for name, sql in _ORACLES.items()}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# kg_* pipeline stages (rows-only driver check; golden-gated in pytest)
# ---------------------------------------------------------------------------

def _sf(sf_dir: str) -> float:
    from pdfmef_spark.sources import store

    return store.sf_of_dir(sf_dir)


@_register(
    "kg_text_sha",
    oracle=f"""
    SELECT url, sha256_text
    FROM read_parquet('{_KG}/pages/*.parquet')
    ORDER BY url
    """,
)
def kg_text_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract stage byte-identity evidence: (url, sha256_text).

    The oracle is the generator's own sha256 column — the driver's hash
    gate becomes exactly the per-url byte-identity invariant from
    BASELINE.json input_hint (reference analog: per-file conversion
    checksums, bin/processCrawls.pl:159-170)."""
    from pdfmef_spark.operators import extract
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    return extract.text_sha256(extract.extract_pages(pages)).orderBy("url")


@_register(
    "kg_triples",
    oracle=f"""
    SELECT DISTINCT url, subj, pred, obj
    FROM read_parquet('{_KG}/golden_triples/*.parquet')
    ORDER BY url, subj, pred, obj
    """,
)
def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emitted (subj, pred, obj) set vs the planted golden truth — the
    north_rule P/R gate as an exact-equality driver check (P = R = 1.0
    on this corpus; pytest additionally gates spans and types)."""
    from pdfmef_spark.operators import extract, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    return trip.select("url", "subj", "pred", "obj").orderBy(
        "url", "subj", "pred", "obj"
    )


@_register(
    "kg_figures",
    oracle=f"""
    SELECT DISTINCT url, obj AS caption
    FROM read_parquet('{_KG}/golden_triples/*.parquet')
    WHERE pred = 'hasFigure'
    ORDER BY url, caption
    """,
)
def kg_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document figure entities (M8's actual output; reference:
    csxextract/extractors/figures2.py:39-52): captions captured from
    <figure>/<figcaption>/<img alt> before tag strip, emitted as
    (url, hasFigure, caption) triples — exact equality vs planted truth."""
    from pdfmef_spark.operators import extract, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    return (
        trip.filter(F.col("pred") == "hasFigure")
        .select("url", F.col("obj").alias("caption"))
        .distinct()
        .orderBy("url", "caption")
    )


@_register(
    "kg_affiliations",
    oracle=f"""
    SELECT DISTINCT url, subj AS person, obj AS affiliation
    FROM read_parquet('{_KG}/golden_triples/*.parquet')
    WHERE pred = 'affiliationString'
    ORDER BY url, person, affiliation
    """,
)
def kg_affiliations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-unit affiliations (reference: the orgName comparator,
    tei.py:124-143 — institution > department > laboratory, pipe-joined).
    Units appear shuffled in the sentence; the emitted affiliationString
    must be the rank-ordered pipe-join — exact equality vs planted truth."""
    from pdfmef_spark.operators import extract, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    return (
        trip.filter(F.col("pred") == "affiliationString")
        .select("url", F.col("subj").alias("person"), F.col("obj").alias("affiliation"))
        .distinct()
        .orderBy("url", "person", "affiliation")
    )


@_register(
    "kg_algorithms",
    oracle=f"""
    SELECT url, algo_id, caption, n_refs
    FROM read_parquet('{_KG}/golden_algorithms/*.parquet')
    ORDER BY url, algo_id
    """,
)
def kg_algorithms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithm blocks (M9 analog): definitions + reference-mention
    counts vs the planted golden truth (exact equality on this corpus).
    Single codegen projection + explode — no Python, no shuffle."""
    from pdfmef_spark.operators import algorithms, extract
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    return algorithms.extract_algorithms(extract.extract_pages(pages)).orderBy(
        "url", "algo_id"
    )


@_register(
    "kg_top_entities",
    oracle=f"""
    WITH m AS (
      SELECT DISTINCT url, surface,
             CASE split_part(entity_key, ':', 1)
               WHEN 'person' THEN 'PERSON' WHEN 'org' THEN 'ORG'
               WHEN 'place' THEN 'PLACE' ELSE 'TERM' END AS type
      FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
    )
    SELECT surface, type, count(*) AS n_mentions
    FROM m GROUP BY surface, type
    ORDER BY n_mentions DESC, surface
    LIMIT 10
    """,
)
def kg_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan -> Arrow extract -> triples -> mention agg -> top-10."""
    from pdfmef_spark.operators import extract, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    mentions = triples_op.mentions_from_triples(trip)
    return (
        mentions.groupBy("surface", "type")
        .agg(F.count("*").alias("n_mentions"))
        .orderBy(F.desc("n_mentions"), "surface")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Relational operators over testdata (full DuckDB oracles)
# ---------------------------------------------------------------------------

@_register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter (pushed down) -> partial+final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate AS o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate  > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim join -> fact join -> agg -> top-k."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@_register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3 AND o_custkey < 100
    ORDER BY o_custkey, rn
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (reference analog: best-link-per-mention)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("o_custkey") < 100))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@_register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(substr(text, 1, 30)) AS text_hash,
           count(*)  AS n_copies,
           min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(substr(text, 1, 30))
    HAVING count(*) > 1
    ORDER BY n_copies DESC, text_hash
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content-key hash-groupBy (keeper = min id).

    Key = 30-char prefix so the testdata corpus (all-distinct texts)
    still exercises the duplicate-group path; on real data the key is
    md5(text) — same plan shape either way."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.substring(F.col("text"), 1, 30)).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_copies") > 1)
        .orderBy(F.desc("n_copies"), "text_hash")
    )


@_register(
    "events_daily",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, event_type
    ORDER BY day, event_type
    """,
)
def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing + agg (run-metadata analog of log day-rotation,
    reference: src/extraction/log.py:34-37). Day emitted as an ISO
    string so Spark/DuckDB date types hash identically."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("day", "event_type")
    )


@_register(
    "doc_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(text, ' +'))) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + per-lang agg, JVM-side only."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("n_tokens", F.size(F.split(F.col("text"), " +")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Relational coverage: multi-join, set ops, rollup, anti-join resume,
# array/JSON/math functions (all DuckDB-oracled)
# ---------------------------------------------------------------------------

@_register(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact + 3 broadcast dims, dim-side filter pushed down."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@_register(
    "customers_without_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) — the checkpoint-resume primitive
    (reference analog: the state-machine work queue, wrappers.py:140-156)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@_register(
    "segment_set_ops",
    oracle="""
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         big AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000)
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM building EXCEPT SELECT * FROM big)
    UNION ALL
    SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM building UNION SELECT * FROM big)
    ORDER BY op
    """,
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / except / union (distinct set semantics)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("c_custkey"))
    rows = [
        ("except", building.subtract(big)),
        ("intersect", building.intersect(big)),
        ("union", building.union(big).distinct()),
    ]
    out = None
    for op, df in rows:
        x = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = x if out is None else out.unionByName(x)
    return out.orderBy("op")


@_register(
    "orders_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation (ROLLUP) with grouping-null canonicalization."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


@_register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions: extract a field from a JSON string column."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


@_register(
    "lang_sources_arrays",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def lang_sources_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions: collect_set -> array_sort -> join (string output so
    the cross-engine hash is list-representation-free)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


@_register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(stddev_samp(value), 4) AS sd
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math/statistics functions: exact percentiles + stddev."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.stddev_samp("value"), 4).alias("sd"),
        )
        .orderBy("event_type")
    )


@_register(
    "part_string_funcs",
    oracle="""
    SELECT upper(p_brand) AS brand,
           count(*) AS n,
           CAST(sum(len(p_name)) AS BIGINT) AS name_chars,
           min(regexp_extract(p_type, '^[A-Z]+')) AS first_type_word
    FROM part
    WHERE p_name LIKE '%a%'
    GROUP BY upper(p_brand)
    ORDER BY brand
    """,
)
def part_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: like / upper / length / regexp_extract."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%a%"))
        .groupBy(F.upper("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("p_name")).alias("name_chars"),
            F.min(F.regexp_extract("p_type", "^[A-Z]+", 0)).alias("first_type_word"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Dedup / similarity / text-analysis operators (training-data pipeline)
# ---------------------------------------------------------------------------

# exact word-3gram Jaccard pairs at J >= 0.8, restated relationally —
# shared by the exact-dedup oracle AND the MinHash-LSH oracle (LSH
# candidates + exact verification must recover exactly this set; a hash
# change that drops recall below 1.0 at sf0.01 fails the driver gate)
_NGRAM08_SQL = """
    WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') t FROM documents),
    grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) gs
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(gs) g FROM grams),
    cand AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
             FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(gs) n FROM grams)
    SELECT a, b, round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM cand JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
    ORDER BY a, b
    """


@_register("ngram_jaccard_dedup", oracle=_NGRAM08_SQL)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3gram Jaccard near-dup pairs (J >= 0.8): the verifiable
    anchor of the dedup family (MinHash/SimHash approximate the same set)."""
    from pdfmef_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    # uncapped blocking here: any pair with J >= 0.8 shares a gram, and the
    # oracle has no cap — semantics must match exactly
    return dedup.ngram_jaccard_pairs(d, threshold=0.8, block_cap=None).orderBy("a", "b")


_NGRAM_CAP = 2  # artificially low so the cap VISIBLY binds at sf0.01
# (max gram bucket there is 7 docs; cap=2 drops 2 of the 25 J>=0.8
# pairs): the production-shape capped path — including its measured
# recall cost — is what the driver hash-checks here, not just the
# uncapped parity variant

_NGRAM08_CAPPED_SQL = f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') t FROM documents),
    grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) gs
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(gs) g FROM grams),
    -- the cap restated declaratively: window-count docs per gram, drop
    -- WHOLE oversized gram buckets before candidate generation (exactly
    -- the Spark operator's gsize <= cap filter — bucket-atomic, so no
    -- ordering sensitivity)
    kept AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS gsize FROM ex
      ) WHERE gsize <= {_NGRAM_CAP}
    ),
    cand AS (SELECT DISTINCT x.doc_id a, y.doc_id b
             FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id),
    -- exact Jaccard still over the FULL shingle sets (the cap only
    -- gates candidate generation, never the verification arrays)
    inter AS (SELECT x.doc_id a, y.doc_id b, count(*) i
              FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(gs) n FROM grams)
    SELECT a, b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM cand JOIN inter USING (a, b)
    JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    ORDER BY a, b
    """


@_register("ngram_jaccard_dedup_capped", oracle=_NGRAM08_CAPPED_SQL)
def ngram_jaccard_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of n-gram dedup: hot gram buckets capped
    before pair expansion (cap=_NGRAM_CAP, low enough that the cap
    actually costs 2 pairs on this corpus — at 100 TB the cap is what
    keeps a stop-phrase shingle from expanding quadratically). The
    oracle restates the cap
    as a window count per gram, so the driver hash-checks the capped
    path itself, not only the uncapped parity variant above."""
    from pdfmef_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, threshold=0.8, block_cap=_NGRAM_CAP
    ).orderBy("a", "b")


@_register("minhash_dedup", oracle=_NGRAM08_SQL)
def minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified. The oracle is
    the exact J >= 0.8 pair set: the final verification step makes
    precision exactly 1.0, and 16 bands x 4 rows gives band-collision
    probability 1-(1-J^4)^16 >= 0.9997 at J = 0.8, so LSH recall is 1.0
    on this corpus — the driver gate catches any regression that drops
    a true pair (pytest separately gates recall >= 0.95 at sf0.001)."""
    from pdfmef_spark.operators import dedup

    return dedup.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), verify_threshold=0.8
    ).orderBy("a", "b")


@_register(
    "simhash_dedup",
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_reduce(
               list_transform(split(substr(md5(tok), 1, 15), ''),
                              c -> strpos('0123456789abcdef', c) - 1),
               (a, b) -> a * 16 + b) AS hv
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b.range AS bit,
             sum(((hv >> CAST(b.range AS INT)) & 1)::INT) AS cnt,
             count(*) AS t
      FROM h CROSS JOIN range(60) b
      GROUP BY doc_id, b.range
    ),
    sigs AS (
      SELECT doc_id,
             sum(CASE WHEN 2 * cnt > t THEN (1::BIGINT << CAST(bit AS INT))
                      ELSE 0 END)::BIGINT AS sig
      FROM bits GROUP BY doc_id
    )
    SELECT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.sig, y.sig)) AS hamming
    FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.sig, y.sig)) <= 3
    ORDER BY a, b
    """,
)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3.

    Oracle: the md5-prefix token hash makes the 60-bit signature exactly
    reproducible in DuckDB SQL; 4x15-bit pigeonhole blocking is exhaustive
    for hamming<=3, so the Spark pair set equals the brute-force all-pairs
    oracle. Blocking runs over DISTINCT signatures (near-dup families
    collapse before the quadratic step), so the chunk cap measures
    signature diversity and never binds on ordinary duplication — exact
    at sf0.01 (2,932 pairs) AND sf0.1 (271,530 pairs), where doc-level
    blocking under the old 256 cap dropped 85% of true pairs; pytest
    separately pins the signature arithmetic and the family collapse."""
    from pdfmef_spark.operators import dedup

    return dedup.simhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3
    ).orderBy("a", "b")


@_register(
    "embedding_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.q_id, e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.q_vec)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_vec, q.q_vec))) AS cos
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT q_id, vec_id, round(cos, 6) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 3 probe vectors — the exact ANN baseline."""
    from pdfmef_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.brute_force_topk(emb, queries, k=10).orderBy("q_id", "rank")


@_register(
    "embedding_ann_ivf",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.q_id, e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.q_vec)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.q_vec, q.q_vec))) AS cos
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT q_id, vec_id, round(cos, 6) AS cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at exhaustive probe (nprobe = n_centroids): the bucketed
    union must equal exact brute-force top-k — a hash-oracle proof that
    the inverted-file layout (train -> assign -> probe semi-join) loses
    nothing structurally. Partial-probe recall (the approximate path,
    recall < 1 by design on isotropic vectors) is pytest-gated in
    tests/test_similarity.py, including n_centroids=256 at sf0.1."""
    from pdfmef_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=16).orderBy(
        "q_id", "rank"
    )


@_register(
    "doc_text_profile",
    oracle="""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-zÀ-ɏ]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_pieces
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token + subword-piece counts per document, JVM-side."""
    from pdfmef_spark.operators import textstats

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("n_tokens"),
        textstats.bpe_ish_token_count(F.col("text")).alias("n_pieces"),
    ).orderBy("doc_id")


def _lang_votes_sql(lang: str) -> str:
    from pdfmef_spark.operators.textstats import _LANG_MARKERS

    return " + ".join(f"(list_contains(tl, '{w}'))::INT" for w in _LANG_MARKERS[lang])


_QUALITY_LANG_SQL = f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(text) AS DOUBLE) AS chars,
             CAST(len(regexp_replace(text, '[^.!?]', '', 'g')) AS DOUBLE) AS terms,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS toks,
             CAST(len(regexp_replace(text, '[^A-Za-zÀ-ɏ一-鿿]', '', 'g')) AS DOUBLE) AS alpha_chars,
             CAST(len(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE) AS cjk,
             regexp_split_to_array(lower(text), '\\s+') AS tl
      FROM documents
    ),
    v AS (
      SELECT doc_id, chars, terms, toks, alpha_chars, cjk,
             {{en}} AS ven, {{de}} AS vde, {{fr}} AS vfr, {{es}} AS ves
      FROM f
    )
    SELECT doc_id,
           CASE WHEN cjk / greatest(chars, 1.0) > 0.2 THEN 'zh'
                WHEN greatest(ven, vde, vfr, ves) >= 2 THEN
                  CASE WHEN ven >= vde AND ven >= vfr AND ven >= ves THEN 'en'
                       WHEN vde >= vfr AND vde >= ves THEN 'de'
                       WHEN vfr >= ves THEN 'fr'
                       ELSE 'es' END
                ELSE 'und' END AS lang_pred,
           round(0.3 * (least(chars / 200.0, 1.0) * least(20000.0 / greatest(chars, 1.0), 1.0))
               + 0.2 * least(terms / greatest(toks / 30.0, 1.0), 1.0)
               + 0.2 * least(CAST(ven AS DOUBLE) / greatest(toks * 0.02, 1.0), 1.0)
               + 0.3 * (alpha_chars / greatest(chars, 1.0)), 6) AS quality
    FROM v
    ORDER BY doc_id
    """


@_register(
    "doc_quality_lang",
    oracle=_QUALITY_LANG_SQL.format(
        en=_lang_votes_sql("en"), de=_lang_votes_sql("de"),
        fr=_lang_votes_sql("fr"), es=_lang_votes_sql("es"),
    ),
)
def doc_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + heuristic lang-id per doc, full oracle: the SQL
    restates the closed-form C4/Gopher-style heuristics term by term
    (generated from the same marker lists — no drift). The xxhash64
    rolling fingerprint stays in `document_profile` and is pytest-gated
    (no cross-engine hash counterpart)."""
    from pdfmef_spark.operators import textstats

    d = _t(spark, sf_dir, "documents")
    return textstats.document_profile(d).select(
        "doc_id", "lang_pred", "quality"
    ).orderBy("doc_id")


def _keyphrase_sql() -> str:
    from pdfmef_spark.operators.textstats import keyphrase_stoplist

    stop = ", ".join(f"'{w}'" for w in keyphrase_stoplist())
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    cand AS (
      SELECT doc_id, tok FROM toks
      WHERE len(tok) >= 4 AND regexp_full_match(tok, '[a-z]+')
        AND tok NOT IN ({stop})
    ),
    counts AS (SELECT doc_id, tok, count(*) AS tf FROM cand GROUP BY doc_id, tok),
    ranked AS (
      SELECT doc_id, tok AS phrase, tf,
             CAST(tf * len(tok) AS BIGINT) AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf * len(tok) DESC, tok) AS rank
      FROM counts
    )
    SELECT doc_id, phrase, tf, score, rank FROM ranked WHERE rank <= 5
    ORDER BY doc_id, rank
    """


@_register("doc_keyphrases", oracle=_keyphrase_sql())
def doc_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 keyphrases per document (reference: KEYPHRASE_TOP_N=5,
    csxextract/config.py:25-28) — deterministic tf x length ranking,
    full oracle (stoplist shared with the SQL via generation)."""
    from pdfmef_spark.operators import textstats

    d = _t(spark, sf_dir, "documents")
    return textstats.keyphrases_topk(d, k=5).orderBy("doc_id", "rank")


def _textrank_sql(k: int = 5, iterations: int = 3) -> str:
    """TextRank oracle: the same candidate filter / consecutive-pair
    edges as the Spark operator, wrapped in pagerank_oracle_sql's
    unrolled iterative CTEs (bit-identical pr doubles), then the same
    (pr desc, phrase) top-k window."""
    from pdfmef_spark.operators.pagerank import pagerank_oracle_sql
    from pdfmef_spark.operators.textstats import keyphrase_stoplist

    stop = ", ".join(f"'{w}'" for w in keyphrase_stoplist())
    edges_sql = f"""
      WITH t0 AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
        FROM documents
      ),
      toks AS (
        SELECT doc, unnest(arr) AS tok, generate_subscripts(arr, 1) AS ord
        FROM t0
      ),
      cand AS (
        SELECT doc, tok, row_number() OVER (PARTITION BY doc ORDER BY ord) AS rn
        FROM toks
        WHERE len(tok) >= 4 AND regexp_full_match(tok, '[a-z]+')
          AND tok NOT IN ({stop})
      ),
      adj AS (
        SELECT a.doc, a.tok AS ta, b.tok AS tb
        FROM cand a JOIN cand b ON a.doc = b.doc AND b.rn = a.rn + 1
        WHERE a.tok <> b.tok
      ),
      und AS (
        SELECT doc || chr(31) || ta AS src, doc || chr(31) || tb AS dst FROM adj
      )
      SELECT src, dst FROM und
      UNION ALL
      SELECT dst AS src, src AS dst FROM und
    """
    pr_sql = pagerank_oracle_sql(edges_sql, iterations=iterations)
    return f"""
    WITH ranks AS (
      {pr_sql}
    ),
    parsed AS (
      SELECT CAST(string_split(node, chr(31))[1] AS BIGINT) AS doc_id,
             string_split(node, chr(31))[2] AS phrase, pr
      FROM ranks
    ),
    topk AS (
      SELECT doc_id, phrase, pr,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY pr DESC, phrase) AS rank
      FROM parsed
    )
    SELECT doc_id, phrase, pr, rank FROM topk WHERE rank <= {k}
    ORDER BY doc_id, rank
    """


@_register("doc_keyphrases_textrank", oracle=_textrank_sql())
def doc_keyphrases_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ranked keyphrases (TextRank over token co-occurrence,
    reusing the pagerank operator) — the graph-based member of the
    reference's keyphrase method family (config.py:25-28) beside the
    frequency-based doc_keyphrases. Fully hash-oracled including the
    iterative float ranks."""
    from pdfmef_spark.operators import textstats

    d = _t(spark, sf_dir, "documents")
    return textstats.textrank_keyphrases(d, k=5).orderBy("doc_id", "rank")


def _classifier_oracle() -> str:
    from pdfmef_spark.operators.classifier import gate_oracle_sql

    return gate_oracle_sql()


@_register("doc_classifier_gate", oracle=_classifier_oracle())
def doc_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-model filter gate (reference: AcademicPaperFilter,
    csxextract/filters.py:9-48): logistic model over closed-form text
    features, scored JVM-side; the pandas_udf broadcast-model path is
    pinned equal in pytest. Oracle inlines the trained weights."""
    from pdfmef_spark.operators import classifier

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        classifier.classifier_gate(d)
        .select("doc_id", F.round("clf_prob", 4).alias("clf_prob"), "clf_pass")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# kg graph stages (rows-only; golden-gated in pytest via test_pipeline /
# test_linking — cluster P/R >= 0.95)
# ---------------------------------------------------------------------------

def _kg_graph(spark: SparkSession, sf_dir: str):
    from pdfmef_spark.operators import components, extract, graph, linking, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    mentions = triples_op.mentions_from_triples(trip)
    keys = linking.surface_keys(mentions)
    links = linking.link_entities(mentions)
    assignments = components.assign_components(keys, links)
    return graph.materialize_graph(trip, keys, assignments)


@_register(
    "kg_nodes",
    oracle=f"""
    WITH s AS (
      SELECT surface, entity_key, count(DISTINCT url) AS freq
      FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
      GROUP BY surface, entity_key
    ),
    ranked AS (
      SELECT entity_key, surface, freq,
             row_number() OVER (PARTITION BY entity_key
                                ORDER BY freq DESC, len(surface) DESC, surface DESC) AS rn,
             sum(freq) OVER (PARTITION BY entity_key) AS total
      FROM s
    )
    SELECT surface AS canonical,
           CASE split_part(entity_key, ':', 1)
             WHEN 'person' THEN 'PERSON' WHEN 'org' THEN 'ORG'
             WHEN 'place' THEN 'PLACE' ELSE 'TERM' END AS type,
           CAST(total AS BIGINT) AS n_mentions
    FROM ranked WHERE rn = 1
    ORDER BY n_mentions DESC, canonical
    LIMIT 100
    """,
)
def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized entity nodes (alias clusters merged). The oracle
    recomputes nodes from the golden entity partition — an exact check
    that linking + CC reproduce the planted clusters (canonical = the
    same deterministic max_by the graph stage uses)."""
    nodes, _ = _kg_graph(spark, sf_dir)
    return (
        nodes.orderBy(F.desc("n_mentions"), "canonical")
        .limit(100)
        .select("canonical", "type", "n_mentions")
    )


@_register(
    "kg_edges_top",
    oracle=f"""
    WITH t AS (
      SELECT DISTINCT url, subj, pred, obj, subj_type, obj_type
      FROM read_parquet('{_KG}/golden_triples/*.parquet')
      WHERE pred NOT IN ('hasTitle', 'hasAbstract')
    ),
    s AS (
      SELECT surface, entity_key, count(DISTINCT url) AS freq
      FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
      GROUP BY surface, entity_key
    ),
    canon AS (
      SELECT entity_key, surface AS canonical FROM (
        SELECT entity_key, surface,
               row_number() OVER (PARTITION BY entity_key
                                  ORDER BY freq DESC, len(surface) DESC, surface DESC) AS rn
        FROM s
      ) WHERE rn = 1
    ),
    smap AS (SELECT s.surface, c.canonical FROM s JOIN canon c USING (entity_key)),
    e AS (
      SELECT CASE WHEN t.subj_type = 'DOC' THEN t.subj ELSE ms.canonical END AS src_name,
             t.pred,
             CASE WHEN t.obj_type = 'DOC' THEN t.obj ELSE mo.canonical END AS dst_name
      FROM t LEFT JOIN smap ms ON t.subj = ms.surface
             LEFT JOIN smap mo ON t.obj = mo.surface
    )
    SELECT src_name, pred, dst_name, count(*) AS weight
    FROM e
    WHERE src_name IS NOT NULL AND dst_name IS NOT NULL
    GROUP BY src_name, pred, dst_name
    ORDER BY weight DESC, src_name, pred, dst_name
    LIMIT 50
    """,
)
def kg_edges_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest graph edges joined back to canonical names — the hub
    entity surfaces here (skew sanity check)."""
    nodes, edges = _kg_graph(spark, sf_dir)
    n1 = nodes.select(F.col("entity_id").alias("src"), F.col("canonical").alias("src_name"))
    n2 = nodes.select(F.col("entity_id").alias("dst"), F.col("canonical").alias("dst_name"))
    return (
        edges.join(F.broadcast(n1), "src")
        .join(F.broadcast(n2), "dst")
        .select("src_name", "pred", "dst_name", "weight")
        .orderBy(F.desc("weight"), "src_name", "pred", "dst_name")
        .limit(50)
    )


@_register(
    "kg_entity_links",
    oracle=f"""
    WITH RECURSIVE
    gl AS (
      SELECT surface_a, surface_b
      FROM read_parquet('{_KG}/golden_links/*.parquet')
      WHERE same_entity
    ),
    -- normalize_surface (functions/__init__.py:11-26) restated in SQL:
    -- lower/trim -> drop leading article -> reorder "Last, First" ->
    -- strip periods -> collapse whitespace (DuckDB regexp_replace needs
    -- the 'g' flag where Spark replaces all matches by default)
    n1 AS (
      SELECT lower(trim(surface_a)) AS sa, lower(trim(surface_b)) AS sb FROM gl
    ),
    n2 AS (
      SELECT regexp_replace(sa, '^the ', '') AS sa,
             regexp_replace(sb, '^the ', '') AS sb FROM n1
    ),
    n3 AS (
      SELECT CASE WHEN contains(sa, ', ')
                  THEN regexp_extract(sa, '(?:.*, )(.*)$', 1) || ' ' ||
                       regexp_replace(sa, ', .*$', '')
                  ELSE sa END AS sa,
             CASE WHEN contains(sb, ', ')
                  THEN regexp_extract(sb, '(?:.*, )(.*)$', 1) || ' ' ||
                       regexp_replace(sb, ', .*$', '')
                  ELSE sb END AS sb
      FROM n2
    ),
    norm AS (
      SELECT trim(regexp_replace(regexp_replace(sa, '\\.', '', 'g'), ' +', ' ', 'g')) AS a,
             trim(regexp_replace(regexp_replace(sb, '\\.', '', 'g'), ' +', ' ', 'g')) AS b
      FROM n3
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM norm WHERE a <> b
      UNION
      SELECT b, a FROM norm WHERE a <> b
    ),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT x.node AS a, y.node AS b
    FROM comp x JOIN comp y ON x.cluster_id = y.cluster_id AND x.node < y.node
    ORDER BY a, b
    """,
)
def kg_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linking decided end-to-end against golden truth: pairs of golden
    surfaces the engine places in the SAME entity cluster after
    blocking -> Arrow-batched pair scoring -> threshold -> connected
    components. The greedy Python pair scorer itself is not
    SQL-expressible, but its effect on the labeled surfaces IS: the
    oracle computes the transitive closure of `golden_links WHERE
    same_entity` (recursive CTE, the dedup_collapse_clusters pattern)
    over the same surface normalization — so precision (no cross-entity
    merge, including via transitive bridges through corpus surfaces)
    and recall (every alias pair clustered) are both hash-checked, the
    last catalog entry to gain a full oracle."""
    from pdfmef_spark.functions import normalize_surface
    from pdfmef_spark.operators import components, extract, linking, triples as triples_op
    from pdfmef_spark.sources import store

    sf = _sf(sf_dir)
    pages = store.read_pages(spark, sf)
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    mentions = triples_op.mentions_from_triples(trip)
    keys = linking.surface_keys(mentions)
    links = linking.link_entities(mentions)
    assign = components.assign_components(keys, links)

    gl = store.read_golden(spark, sf, "golden_links")
    surf = (
        gl.select(normalize_surface(F.col("surface_a")).alias("norm"))
        .union(gl.select(normalize_surface(F.col("surface_b")).alias("norm")))
        .distinct()
    )
    # restrict cluster membership to the labeled surfaces (broadcast —
    # the label set is tiny next to the corpus vocabulary)
    labeled = assign.join(F.broadcast(surf), "norm").select("norm", "component").distinct()
    x, y = labeled.alias("x"), labeled.alias("y")
    return (
        x.join(
            y,
            (F.col("x.component") == F.col("y.component"))
            & (F.col("x.norm") < F.col("y.norm")),
        )
        .select(F.col("x.norm").alias("a"), F.col("y.norm").alias("b"))
        .distinct()
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# More relational coverage: sessionization (lag), pivot, distinct counts,
# semi-join (EXISTS)
# ---------------------------------------------------------------------------

@_register(
    "user_sessions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
      FROM ordered
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window: new session when gap > 30 min.
    (The streaming analog is session_window; this is the batch form.)"""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


@_register(
    "orders_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 2) AS open_total,
           round(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 2) AS finished_total,
           round(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 2) AS partial_total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) with a fixed column list."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "o_orderpriority",
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("open_total"),
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("finished_total"),
        F.round(F.coalesce(F.col("P"), F.lit(0.0)), 2).alias("partial_total"),
    ).orderBy("o_orderpriority")


@_register(
    "supplier_part_distincts",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def supplier_part_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact distinct aggregates (expand + two-phase under the hood)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "customers_with_big_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) — dual of the anti-join resume primitive."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@_register(
    "dedup_collapse_clusters",
    oracle="""
    WITH RECURSIVE
    toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') t FROM documents),
    grams AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) gs
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(gs) g FROM grams),
    cand AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
             FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
             GROUP BY 1, 2),
    sizes AS (SELECT doc_id, len(gs) n FROM grams),
    pairs AS (
      SELECT a, b
      FROM cand JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
    ),
    edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
    reach(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT keep, count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters
    FROM (SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM assigned) x
    GROUP BY keep ORDER BY keep
    """,
)
def dedup_collapse_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: near-dup pairs -> connected components -> keeper
    per cluster. The oracle recomputes the same thing declaratively:
    exact-Jaccard pairs, transitive closure via recursive CTE, keeper =
    min doc_id per component (pytest additionally verifies against a
    union-find at sf0.001)."""
    from pdfmef_spark.operators import dedup

    d = _t(spark, sf_dir, "documents")
    # uncapped pairs: the oracle (recursive-CTE CC over exact-Jaccard
    # pairs) has no blocking cap, so semantics must match exactly
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.8, block_cap=None)
    out = dedup.dedup_keep_min(d, pairs)
    return (
        out.groupBy("keep")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("cluster_id").alias("n_clusters"))
        .orderBy("keep")
    )


@_register(
    "events_asof_thresholds",
    oracle="""
    WITH thresholds AS (
      SELECT t.event_type,
             TIMESTAMP '2024-01-01' + INTERVAL (d.d) DAY AS ts,
             (d.d * 7 + len(t.event_type)) % 100 AS level
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(0, 30)) AS d) d
    )
    SELECT e.event_type, t.level,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e
    ASOF LEFT JOIN thresholds t
      ON e.event_type = t.event_type AND e.ts >= t.ts
    GROUP BY e.event_type, t.level
    ORDER BY e.event_type, t.level
    """,
)
def events_asof_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (custom operator, operators/asof.py) against a
    deterministic per-type daily threshold series; DuckDB's native
    ASOF JOIN is the oracle."""
    from pdfmef_spark.operators.asof import asof_join_backward

    e = _t(spark, sf_dir, "events")
    types = e.select("event_type").distinct()
    thresholds = (
        types.crossJoin(spark.range(0, 31).select(F.col("id").alias("d")))
        .select(
            "event_type",
            (F.lit("2024-01-01").cast("timestamp") + F.make_interval(days=F.col("d").cast("int"))).alias("ts"),
            ((F.col("d") * 7 + F.length("event_type")) % 100).alias("level"),
        )
    )
    joined = asof_join_backward(
        e, thresholds, ts_col="ts", by=["event_type"], value_cols=["level"]
    )
    return (
        joined.groupBy("event_type", "level")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_type", "level")
    )


@_register(
    "user_value_zscores",
    oracle="""
    WITH stats AS (
      SELECT user_id, event_id, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_samp(value) OVER (PARTITION BY user_id) AS sd
      FROM events
    )
    SELECT user_id,
           count(*) AS n,
           round(max(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0 END), 4) AS max_z,
           round(min(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0 END), 4) AS min_z
    FROM stats
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas): per-user z-score
    normalization — the UDAF/grouped-transform surface. The oracle
    states the same computation as window SQL; both must agree, which
    also pins the Arrow group-transfer semantics."""
    import pandas as pd

    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        z = (pdf["value"] - mu) / sd if sd and sd > 0 else pdf["value"] * 0.0
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "z": z}
        )

    zs = e.groupBy("user_id").applyInPandas(zscore, "user_id long, event_id long, z double")
    return (
        zs.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("z"), 4).alias("max_z"),
            F.round(F.min("z"), 4).alias("min_z"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round 2 relational widening: correlated-subquery decorrelation, RANGE-frame
# windows, CUBE grouping sets
# ---------------------------------------------------------------------------

@_register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
           round(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY orderkey
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery, written AS a correlated subquery in
    Spark SQL so Catalyst's decorrelation rewrites it to an aggregate +
    join (the scale-safe plan) — no hand-decorrelation."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
               round(o.o_totalprice, 2) AS totalprice
        FROM v_orders o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM v_orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY orderkey
        """
    )


@_register(
    "events_moving_avg",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value,
             avg(value) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
             ) AS mavg
      FROM events
    )
    SELECT user_id, event_id, round(mavg, 6) AS moving_avg_1h
    FROM w ORDER BY user_id, event_id
    """,
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-user trailing 1-hour mean.

    RANGE frames bound state by time, not row count — the shape that
    survives bursty users at scale (a ROWS frame would need the full
    burst in memory; RANGE lets Spark's window exec slide by value)."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return (
        e.select(
            "user_id", "event_id",
            F.round(F.avg("value").over(w), 6).alias("moving_avg_1h"),
        )
        .orderBy("user_id", "event_id")
    )


@_register(
    "lineitem_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY rflag, lstatus
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations) with null canonicalization."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "sum_qty",
            "n",
        )
        .orderBy("rflag", "lstatus")
    )


@_register(
    "media_resize_plan",
    oracle="""
    WITH m AS (
      SELECT range AS media_id,
             64 + (range % 16) * 8 AS width,
             64 + (range % 9) * 8 AS height
      FROM range(64)
    )
    SELECT CAST(media_id AS BIGINT) AS media_id, 'image' AS kind,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(round(width * least(256.0 / greatest(width, height), 1.0)) AS INT)
             AS target_width,
           CAST(round(height * least(256.0 / greatest(width, height), 1.0)) AS INT)
             AS target_height
    FROM m ORDER BY media_id
    """,
)
def media_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata math (resize planning) — deterministic synthetic
    media table, JVM-side aspect-ratio arithmetic; the decode itself is the
    (stubbed) codec call and never enters this plan."""
    from pdfmef_spark.operators import multimodal

    media = multimodal.synthetic_media(spark, 64, kind="image")
    return multimodal.resize_plan(media, max_side=256).orderBy("media_id")


@_register(
    "media_frame_plan",
    oracle="""
    SELECT CAST(m.range AS BIGINT) AS media_id, CAST(f.range AS INT) AS frame_idx
    FROM range(64) m CROSS JOIN range(0, 30, 10) f
    ORDER BY media_id, frame_idx
    """,
)
def media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: explode sampled frame indices (sequence
    step) per media row — pure metadata, no decode."""
    from pdfmef_spark.operators import multimodal

    media = multimodal.synthetic_media(spark, 64, kind="video")
    return multimodal.frame_sample_plan(media, every_n=10).orderBy(
        "media_id", "frame_idx"
    )


@_register(
    "embedding_near_dups",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS a,
           CAST(vec_id + 10000 AS BIGINT) AS b,
           1.0 AS cosine
    FROM embeddings WHERE vec_id % 10 = 3
    ORDER BY a
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH embedding near-dup detection over the embeddings table
    with planted exact duplicates (vec_id % 10 == 3 copied to id+10000).

    Oracle-exact by construction: identical vectors share every sign in
    every LSH table (recall 1.0, deterministic), the exact-cosine verify
    step makes precision 1.0, and the testdata embeddings have no natural
    pair above cosine 0.52 — so the output is precisely the planted pair
    set. The numpy hyperplanes never need a SQL counterpart."""
    from pdfmef_spark.operators import dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return dedup.embedding_dup_pairs(
        emb.unionByName(planted), threshold=0.99, n_planes=12, n_tables=4
    ).orderBy("a", "b")


@_register(
    "user_event_type_map",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, CAST(count(*) AS INT) AS n_types FROM c GROUP BY user_id)
    SELECT c.user_id, t.n_types, c.event_type, c.cnt
    FROM c JOIN t USING (user_id)
    WHERE c.cnt >= 2
    ORDER BY user_id, event_type
    """,
)
def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions: map_from_entries -> size -> map_filter -> explode(map).

    The map is built per user from (event_type, count) entries, filtered
    to entries with cnt >= 2, and exploded back to rows (row output keeps
    the DuckDB comparison map-order-independent)."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return (
        m.select(
            "user_id",
            F.size("m").alias("n_types"),
            F.explode(F.map_filter("m", lambda k, v: v >= 2)).alias(
                "event_type", "cnt"
            ),
        )
        .orderBy("user_id", "event_type")
    )


@_register(
    "user_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             -- >= (not >): Spark session windows are half-open
             -- [start, start+gap), so an event at exactly prev+gap
             -- starts a NEW session — the oracle must agree at the
             -- boundary (ADVICE r02)
             CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) >= 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def user_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap): Spark merges
    events into dynamic-length sessions inside the aggregation operator —
    the streaming-capable formulation of sessionization (the lag-based
    user_sessions query is the batch-window formulation of the same
    semantics; the oracle reproduces them with gap logic in SQL).
    Epoch-second bounds keep the hash comparison timezone-stable."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@_register(
    "events_interval_counts",
    oracle="""
    WITH windows AS (
      SELECT t.event_type,
             TIMESTAMP '2024-01-01' + INTERVAL (d.d) DAY
               + INTERVAL (len(t.event_type) % 12) HOUR AS w_start,
             TIMESTAMP '2024-01-01' + INTERVAL (d.d) DAY
               + INTERVAL (len(t.event_type) % 12 + 6) HOUR AS w_end
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(0, 30)) AS d) d
    )
    SELECT e.event_type,
           CAST(floor(epoch(w.w_start)) AS BIGINT) AS window_start,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e
    JOIN windows w
      ON e.event_type = w.event_type
     AND e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY e.event_type, w.w_start
    ORDER BY e.event_type, window_start
    """,
)
def events_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via the bucketed equi-join operator
    (operators/rangejoin.py): per-type 6-hour windows against the events
    stream — a hash join on (event_type, bucket), never a nested-loop
    (plan asserted in test_rangejoin)."""
    from pdfmef_spark.operators.rangejoin import interval_join

    e = _t(spark, sf_dir, "events")
    types = e.select("event_type").distinct()
    windows = types.crossJoin(
        spark.range(0, 31).select(F.col("id").alias("d"))
    ).select(
        "event_type",
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("d").cast("int"),
                              hours=(F.length("event_type") % 12).cast("int"))
        ).alias("w_start"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("d").cast("int"),
                              hours=(F.length("event_type") % 12 + 6).cast("int"))
        ).alias("w_end"),
    )
    joined = interval_join(
        e, windows, ts_col="ts", start_col="w_start", end_col="w_end",
        by=["event_type"], bucket_seconds=6 * 3600,
    )
    return (
        joined.groupBy("event_type", "w_start")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "event_type",
            F.unix_timestamp("w_start").alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("event_type", "window_start")
    )


# ---------------------------------------------------------------------------
# graph analytics over the materialized KG
# ---------------------------------------------------------------------------

def _pagerank_oracle() -> str:
    from pdfmef_spark.operators.pagerank import pagerank_oracle_sql

    edges = (
        "SELECT DISTINCT subj AS src, obj AS dst "
        f"FROM read_parquet('{_KG}/golden_triples/*.parquet') WHERE pred = 'cites'"
    )
    return pagerank_oracle_sql(edges, iterations=3, damping=0.85, round_dp=9)


@_register("kg_pagerank", oracle=_pagerank_oracle())
def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the live `cites` edge set (extract ->
    triples -> filter -> iterative-join PageRank). Hash-oracled bit-
    exactly: per-iteration aggregation results are rounded identically
    on both sides, all other arithmetic is a fixed IEEE expression tree
    (operators/pagerank.py). The graph-analytics surface the reference
    never had over its materialized citation XML (bin/buildXML.pl).

    Round 6: the cites edge set is derived fully JVM-side
    (extract.cites_edges — decode + subtree-drop + href regex as
    codegen expressions) instead of running the whole Python
    extract+relations boundary only to keep the pred='cites' rows;
    the edge set is identical (pinned by test_extract) and pagerank's
    leading distinct() restates the triples-stage dedup."""
    from pdfmef_spark.operators import extract, pagerank as pr
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    cites = extract.cites_edges(pages)
    return pr.pagerank(cites, iterations=3, damping=0.85, round_dp=9).orderBy("node")


@_register(
    "late_shipment_priorities",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a NON-equi term -> left-semi
    join whose condition carries both the key equality and the outer-row
    date comparison (Catalyst keeps the equality as the join key and the
    date term as a post-join residual — no nested loop)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@_register(
    "promo_revenue_by_year",
    oracle="""
    SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
           round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY ship_year
    ORDER BY ship_year
    """,
)
def promo_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact x broadcast dim, conditional aggregation
    ratio (two algebraic sums in ONE pass — no second scan for the
    denominator)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
        .orderBy("ship_year")
    )


@_register(
    "event_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.90), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT continuous percentiles (linear interpolation at rank
    p*(n-1)) per group — the latency-SLO query shape. Spark's
    `percentile` matches DuckDB's `quantile_cont` definition exactly, so
    this is hash-oracled; at 100 TB swap in `percentile_approx`
    (t-digest, single pass, no per-group sort buffer) and drop the
    oracle to rows-only."""
    e = _t(spark, sf_dir, "events")
    aggs = [
        F.round(F.percentile("value", F.lit(q)), 6).alias(f"p{int(q * 100)}")
        for q in (0.25, 0.50, 0.90, 0.99)
    ]
    return e.groupBy("event_type").agg(*aggs).orderBy("event_type")


@_register("event_value_quantiles_approx")  # rows-only: sketch values are
# engine-specific by design; accuracy is tolerance-gated in pytest
def event_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap-in beside event_value_quantiles: percentile_approx
    (Greenwald-Khanna sketch, accuracy=10000) — single pass, fixed-size
    mergeable state, no per-group sort buffer. pytest gates each sketch
    quantile against the exact percentile; bench records the cost gap."""
    e = _t(spark, sf_dir, "events")
    aggs = [
        F.round(
            F.percentile_approx("value", F.lit(q), F.lit(10000)), 6
        ).alias(f"p{int(q * 100)}")
        for q in (0.25, 0.50, 0.90, 0.99)
    ]
    return e.groupBy("event_type").agg(*aggs).orderBy("event_type")


@_register("kg_two_hop_reach_hll")  # rows-only: HLL estimates are
# engine-specific; error is tolerance-gated in pytest vs the exact reach
def kg_two_hop_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap-in beside kg_two_hop_reach (HyperBall-style):
    approx_count_distinct(rsd=0.02) replaces the exact neighbor dedup,
    so the count shuffle carries fixed-size HLL registers instead of
    every (node, neighbor) pair. Same hub-capped join structure."""
    from pdfmef_spark.operators import extract, reach, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url")) & (F.col("a.surface") < F.col("b.surface")),
    ).select(F.col("a.surface").alias("src"), F.col("b.surface").alias("dst"))
    return (
        reach.two_hop_reach(pairs, hub_cap=40, approx_rsd=0.02)
        .orderBy(F.desc("reach2"), "node")
        .limit(100)
    )


@_register(
    "kg_entity_cooccurrence",
    oracle=f"""
    WITH m AS (
      SELECT DISTINCT url, surface
      FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
      WHERE split_part(entity_key, ':', 1) = 'person'
    )
    SELECT a.surface AS s_a, b.surface AS s_b, count(*) AS n_docs
    FROM m a JOIN m b ON a.url = b.url AND a.surface < b.surface
    GROUP BY s_a, s_b
    HAVING count(*) >= 2
    ORDER BY n_docs DESC, s_a, s_b
    LIMIT 50
    """,
)
def kg_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity–doc–entity 2-hop motif: PERSON surfaces co-mentioned in a
    document (the co-author-graph shape). Self-join keyed on url, so the
    blow-up is bounded by per-doc mention count, never corpus size; the
    pair aggregation is algebraic (map-side partials). At 10^12 docs the
    same plan holds — the join key (url) is the corpus's natural
    partitioner, so AQE coalesces and no node ever sees more than one
    doc's quadratic."""
    from pdfmef_spark.operators import extract, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.url") == F.col("b.url"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .groupBy(
            F.col("a.surface").alias("s_a"), F.col("b.surface").alias("s_b")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "s_a", "s_b")
        .limit(50)
    )


def _triangle_oracle() -> str:
    from pdfmef_spark.operators.triangles import triangles_oracle_sql

    pairs = f"""
      SELECT a.surface AS src, b.surface AS dst
      FROM (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') a
      JOIN (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') b
        ON a.url = b.url AND a.surface < b.surface
    """
    return triangles_oracle_sql(pairs)


@_register("kg_triangle_count", oracle=_triangle_oracle())
def kg_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the person co-mention graph (degree-oriented wedge
    join, operators/triangles.py): the cohesion metric over the same
    2-hop motif as kg_entity_cooccurrence. Integer-only — exact hash
    oracle, no rounding contract."""
    from pdfmef_spark.operators import extract, triangles as tri, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url")) & (F.col("a.surface") < F.col("b.surface")),
    ).select(F.col("a.surface").alias("src"), F.col("b.surface").alias("dst"))
    return tri.triangle_count(pairs)


@_register(
    "big_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           round(o.o_totalprice, 2) AS total_price, big.sum_qty
    FROM big
      JOIN orders o   ON o.o_orderkey = big.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 100
    """,
)
def big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact aggregate, then join BACK to
    the dimension tables. The aggregate runs first and shrinks the fact
    side to the qualifying keys, so both join probes are against a
    few-hundred-row relation (broadcast) — never fact x fact."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 250)
        .select("l_orderkey", F.col("raw_qty").cast("bigint").alias("sum_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(100)
    )


@_register(
    "order_rank_functions",
    oracle="""
    WITH w AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band,
             row_number() OVER ord_total AS rn,
             CAST(rank()       OVER ord_band AS BIGINT) AS rnk,
             CAST(dense_rank() OVER ord_band AS BIGINT) AS drnk,
             round(percent_rank() OVER ord_band, 6) AS prank,
             round(cume_dist()    OVER ord_band, 6) AS cdist,
             CAST(ntile(4) OVER ord_total AS BIGINT) AS quartile
      FROM orders
      WINDOW
        ord_band  AS (PARTITION BY o_orderpriority
                      ORDER BY floor(o_totalprice / 50000) DESC),
        ord_total AS (PARTITION BY o_orderpriority
                      ORDER BY floor(o_totalprice / 50000) DESC, o_orderkey)
    )
    SELECT o_orderpriority, o_orderkey, price_band, rnk, drnk, prank, cdist, quartile
    FROM w WHERE rn <= 20
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def order_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one window pass: rank /
    dense_rank / percent_rank / cume_dist over a TIED ordering (coarse
    price bands — all four are tie-deterministic), ntile + row_number
    over the tie-broken total ordering (ntile is order-sensitive, so
    its window must be a total order to be engine-portable)."""
    o = _t(spark, sf_dir, "orders")
    band = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    w_band = W.partitionBy("o_orderpriority").orderBy(F.desc("price_band"))
    w_total = W.partitionBy("o_orderpriority").orderBy(
        F.desc("price_band"), "o_orderkey"
    )
    return (
        o.withColumn("price_band", band)
        .select(
            "o_orderpriority",
            "o_orderkey",
            "price_band",
            F.row_number().over(w_total).alias("rn"),
            F.rank().over(w_band).cast("bigint").alias("rnk"),
            F.dense_rank().over(w_band).cast("bigint").alias("drnk"),
            F.round(F.percent_rank().over(w_band), 6).alias("prank"),
            F.round(F.cume_dist().over(w_band), 6).alias("cdist"),
            F.ntile(4).over(w_total).cast("bigint").alias("quartile"),
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
        .orderBy("o_orderpriority", "o_orderkey")
    )


@_register(
    "disjunctive_brand_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
    sides. Catalyst splits it: the part-only disjuncts (brand+size)
    prune the broadcast side at its scan, the cross-side conjuncts stay
    as the join residual — a single broadcast hash join, no
    fact-per-disjunct rescan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


def _clustering_oracle() -> str:
    from pdfmef_spark.operators.triangles import node_clustering_oracle_sql

    pairs = f"""
      SELECT a.surface AS src, b.surface AS dst
      FROM (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') a
      JOIN (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') b
        ON a.url = b.url AND a.surface < b.surface
    """
    return f"SELECT * FROM ({node_clustering_oracle_sql(pairs)}) ORDER BY node"


@_register("kg_clustering_coefficients", oracle=_clustering_oracle())
def kg_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of every person in the co-mention
    graph (triangle corners exploded / degree pairs) — how clique-like
    each entity's neighborhood is. Exact hash oracle: integer counts +
    one identically-rounded division."""
    from pdfmef_spark.operators import extract, triangles as tri, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url")) & (F.col("a.surface") < F.col("b.surface")),
    ).select(F.col("a.surface").alias("src"), F.col("b.surface").alias("dst"))
    return tri.node_clustering(pairs).orderBy("node")


@_register(
    "doc_deterministic_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       OR (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2', '3'))
    ORDER BY doc_id
    """,
)
def doc_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (seed-free, engine-portable) sampling: membership
    is a pure function of the row key's md5, so the same eval split
    falls out on ANY engine, any partitioning, any rerun — unlike
    sample()/TABLESAMPLE, whose RNG is engine- and split-dependent.
    Stratified by giving a stratum (here 'de') a wider hash-prefix
    window. This is how a 100 TB pipeline pins holdout sets: the
    sample is a pushed-down filter, never a shuffle or a seed."""
    d = _t(spark, sf_dir, "documents")
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        d.filter(
            first.isin("0", "1")
            | ((F.col("lang") == "de") & first.isin("2", "3"))
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@_register(
    "event_value_histogram",
    oracle="""
    -- DuckDB has no width_bucket; this is Spark's exact algorithm:
    -- floor((v - lo) / ((hi - lo) / n)) + 1, clamped to 0 / n+1
    SELECT CASE WHEN value < 0 THEN 0
                WHEN value >= 250 THEN 26
                ELSE CAST(floor(value / ((CAST(250 AS DOUBLE) - 0) / 25)) AS BIGINT) + 1
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket — one algebraic pass
    (count+sum per bucket, map-side partials), the profile query run
    before choosing dedup/quality thresholds at corpus scale."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.width_bucket("value", F.lit(0), F.lit(250), F.lit(25))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("bucket")
    )


def _pagerank_weighted_oracle() -> str:
    from pdfmef_spark.operators.pagerank import pagerank_oracle_sql

    edges = f"""
      WITH m AS (
        SELECT DISTINCT url, surface
        FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
        WHERE split_part(entity_key, ':', 1) = 'person'
      ),
      p AS (
        SELECT a.surface AS s_a, b.surface AS s_b, count(*) AS w
        FROM m a JOIN m b ON a.url = b.url AND a.surface < b.surface
        GROUP BY s_a, s_b
      )
      SELECT s_a AS src, s_b AS dst, w FROM p
      UNION ALL
      SELECT s_b AS src, s_a AS dst, w FROM p
    """
    return pagerank_oracle_sql(edges, iterations=3, round_dp=9, weighted=True)


@_register("kg_pagerank_weighted", oracle=_pagerank_weighted_oracle())
def kg_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-mention-weighted PageRank over the (symmetrized) person
    graph: edge weight = number of shared docs, out-strength = weight
    sum. Integer weights keep the bit-exact cross-engine contract
    (operators/pagerank.py)."""
    from pdfmef_spark.operators import extract, pagerank as pr, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.url") == F.col("b.url"))
            & (F.col("a.surface") < F.col("b.surface")),
        )
        .groupBy(F.col("a.surface").alias("s_a"), F.col("b.surface").alias("s_b"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = p.select(
        F.col("s_a").alias("src"), F.col("s_b").alias("dst"), "w"
    ).unionAll(p.select(F.col("s_b").alias("src"), F.col("s_a").alias("dst"), "w"))
    return pr.pagerank(edges, iterations=3, round_dp=9, weight="w").orderBy("node")


def _reach_oracle() -> str:
    from pdfmef_spark.operators.reach import two_hop_reach_oracle_sql

    pairs = f"""
      SELECT a.surface AS src, b.surface AS dst
      FROM (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') a
      JOIN (SELECT DISTINCT url, surface
            FROM read_parquet('{_KG}/golden_surfaces/*.parquet')
            WHERE split_part(entity_key, ':', 1) = 'person') b
        ON a.url = b.url AND a.surface < b.surface
    """
    inner = two_hop_reach_oracle_sql(pairs, hub_cap=40)
    return (
        f"SELECT * FROM ({inner}) ORDER BY reach2 DESC, node LIMIT 100"
    )


@_register("kg_two_hop_reach", oracle=_reach_oracle())
def kg_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped 2-hop reach over the person co-mention graph: the
    influence-radius query, in its production shape — intermediate
    nodes with degree > 40 are not expanded, and the oracle restates
    the cap, so the driver checks the capped path itself (the same
    discipline as ngram_jaccard_dedup_capped)."""
    from pdfmef_spark.operators import extract, reach, triples as triples_op
    from pdfmef_spark.sources import store

    pages = store.read_pages(spark, _sf(sf_dir))
    trip = triples_op.extract_triples(extract.extract_pages(pages))
    m = (
        triples_op.mentions_from_triples(trip)
        .filter(F.col("type") == "PERSON")
        .select("url", "surface")
        .distinct()
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url")) & (F.col("a.surface") < F.col("b.surface")),
    ).select(F.col("a.surface").alias("src"), F.col("b.surface").alias("dst"))
    return (
        reach.two_hop_reach(pairs, hub_cap=40)
        .orderBy(F.desc("reach2"), "node")
        .limit(100)
    )
