"""Deduplication family: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine near-dup.

Training-data-pipeline operators over the `documents` table (and any
text column). Everything except the final candidate verification is
JVM-side; near-dup candidate generation never materializes the
quadratic pair space (same LSH discipline as entity linking —
reference analog for exact dedup: none; pdfmef assumes unique doc ids,
SURVEY.md §2.2 "Distinct: absent").

Scale notes:
  * exact dedup = hash groupBy — partial aggregation absorbs skew;
  * MinHash-LSH: bands -> bucket self-join with frequency cap;
  * SimHash: 64-bit signature via token-hash bit voting, then
    band-split (4x16-bit) exact-match blocking for hamming<=k search;
  * embedding cosine: block by LSH sign-bits of random projections;
  * incremental MinHash / n-gram paths take their delta candidates from
    the LSH blocking kernel in operators/linking.py
    (``delta_bucket_pairs``: capped in-bucket pair expansion plus
    cap-crossing detection), then share one exact-Jaccard verify
    (``_verify_jaccard``) with the full paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from pdfmef_spark.functions.zipimports import install_stable_zip_importers
from pdfmef_spark.operators import linking

# Persisted intermediates of the four pair generators, in creation
# order. CacheManager holds cached plans STRONGLY until an explicit
# unpersist/clearCache — Spark's ContextCleaner does NOT release them
# when the returned DataFrame is dropped (ADVICE r5: the earlier
# docstring claimed otherwise) — so a long-lived session invoking these
# operators over changing inputs accumulates executor storage unless it
# calls :func:`release_caches` once the results are materialized.
# Within one session over the SAME inputs the caches are the point:
# CacheManager dedupes by logical plan, so repeated invocations reuse
# the signature/bucket tables instead of re-scanning the corpus.
_LIVE_CACHES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every intermediate the dedup operators have cached in
    this session; returns the number released. Call after materializing
    results in long-lived sessions (blocking=False: frees lazily)."""
    n = 0
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def _observed_cap_filter(df: DataFrame, size_col: str, cap: int, cap_obs) -> DataFrame:
    """Keep exploded bucket rows with bucket size <= cap; when `cap_obs`
    (a pyspark Observation) is given, record on the SAME job how much
    the cap dropped: members_dropped = dropped rows; buckets_dropped =
    sum over dropped rows of 1/bucket_size (each oversized bucket of
    size s contributes s * 1/s = 1 — an exact bucket count without a
    distinct aggregate, which observe() disallows). Recall loss from
    capping must be a measured number, never an assumption.
    """
    over = F.col(size_col) > cap
    if cap_obs is not None:
        df = df.observe(
            cap_obs,
            F.round(
                F.sum(F.when(over, 1.0 / F.col(size_col)).otherwise(0.0))
            ).cast("long").alias("buckets_dropped"),
            F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("members_dropped"),
        )
    return df.filter(~over)


# ---------------------------------------------------------------------------
# word shingles + Jaccard (exact, for candidate verification and small sets)
# ---------------------------------------------------------------------------


def word_shingles(col, k: int = 3):
    """Array of word k-grams (distinct), JVM-side."""
    toks = F.split(F.lower(col), r"\s+")
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


def _shingle_base(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh): each document's distinct word k-gram array."""
    return docs.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("sh")
    )


def _verify_jaccard(cand: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard): candidate pairs whose exact shingle Jaccard is
    >= threshold. Both members' arrays are joined back from the (id, sh)
    ``base`` only now, so blocking never shuffles shingle arrays."""
    return (
        cand.join(base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b")), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.8, block_cap: int | None = 64,
    cap_obs=None, materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs blocked by shared shingle.

    Blocking: explode shingles, pair docs sharing a shingle (capped at
    `block_cap` docs per shingle; None = uncapped exact semantics — any
    pair with J >= threshold shares a shingle, so uncapped recall is 1.0
    by construction), then exact Jaccard via array_intersect/union.
    The cap is the 100-TB shape: a stop-phrase shingle shared by millions
    of docs must not expand quadratically; capped blocking trades recall
    on low-signal shingles for a bounded reducer.

    Join-width discipline (same analysis as simhash_dedup_pairs):
    blocking self-joins on xxhash64(gram), never the gram STRING — a
    collision only adds a candidate pair that exact-Jaccard verification
    discards, so results are identical (pinned equal at sf0.1) while
    the blocking exchange shuffles 8 bytes per row instead of a word
    trigram; the cap itself still counts true gram strings. `materialize`
    persists the (id, shingles) base (feeds the explode + two member
    joins — three scans of the corpus otherwise) and the capped (id,
    gram-hash) table the self-join reads twice; with the groupBy-based
    cap below, measured warm at sf0.1: 13.0 s -> 8.9 s capped (within
    noise of uncapped), identical 256-pair result.
    """
    base = _shingle_base(docs, id_col, text_col, k)
    if materialize:
        base = _persist(base)
    ex = base.select("id", F.explode("sh").alias("g"))
    if block_cap is not None:
        # Bucket sizes via groupBy + join-back, NOT a window over the
        # exploded string table: partial aggregation means the count
        # shuffle carries one row per DISTINCT gram per partition, and
        # only the OVERSIZED grams (<= total_grams/cap by pigeonhole,
        # Zipf-tiny in practice) join back — AQE converts that join to
        # broadcast at runtime, so the full exploded table never
        # exchanges on a string key (the window variant shuffled every
        # (id, gram) row; measured warm at sf0.1: 13.0 s -> 8.9 s,
        # within noise of the uncapped path's 8.3-9.0 s). Falls
        # back to a shuffle join automatically if an adversarial corpus
        # ever makes the hot set large. Drop counters keep the exact
        # _observed_cap_filter semantics (gsize is exact per gram; rows
        # in small buckets coalesce to 0 and never trip the cap).
        hot = (
            ex.groupBy("g")
            .agg(F.count("*").alias("gsize"))
            .filter(F.col("gsize") > block_cap)
        )
        ex = _observed_cap_filter(
            ex.join(hot, "g", "left").withColumn(
                "gsize", F.coalesce("gsize", F.lit(0).cast("long"))
            ),
            "gsize", block_cap, cap_obs,
        )
    ex = ex.select("id", F.xxhash64("g").alias("gh"))
    if materialize:
        ex = _persist(ex)
    cand = (
        ex.alias("x")
        .join(ex.alias("y"), (F.col("x.gh") == F.col("y.gh")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    return _verify_jaccard(cand, base, threshold)


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signature(shingle_col, n_hashes: int = 64):
    """Array of n_hashes minima of per-index xxhash64 over shingles.

    Single nested transform (index as lambda variable): unrolling
    n_hashes separate array_min expressions inflates the generated
    code enough to cost ~15 s of Janino compile time per plan."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(shingle_col, lambda s: F.xxhash64(s, i))),
    )


def _minhash_bands(base: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(id, band, bh): the banded MinHash bucket table of an (id, sh)
    base — each band hashes its n_hashes // n_bands signature rows."""
    r = n_hashes // n_bands
    sig = base.withColumn("sig", minhash_signature(F.col("sh"), n_hashes))
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.xxhash64(
            *[F.element_at(F.col("sig"), b * r + j + 1) for j in range(r)]
        ),
    )
    return sig.select("id", F.posexplode(band_arr).alias("band", "bh"))


def minhash_dedup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, n_hashes: int = 64, n_bands: int = 16,
    verify_threshold: float = 0.7, bucket_cap: int = 64,
    cap_obs=None, materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs: shingle -> MinHash -> banded buckets ->
    bucket self-join -> exact-Jaccard verification.

    Join-width discipline: the banded bucket table is (id, band, bh) —
    24 bytes/row — NOT (id, shingles, band, bh). The earlier shape
    dragged every document's full shingle array through the bucket
    exchange AND the self-join (16 copies of the corpus' shingles in
    shuffle bytes at n_bands=16); now shingle arrays are joined back
    from the base table only for surviving candidate pairs, which the
    cap bounds. `materialize` persists the (id, shingles) base (feeds
    the signature computation + two member joins) and the narrow band
    table (the self-join reads it twice, and `id < id` pushed-filter
    asymmetry defeats exchange reuse — the simhash_dedup_pairs
    analysis); measured at sf0.1: 17.2 s -> 13.9 s warm, identical
    256-pair result."""
    base = _shingle_base(docs, id_col, text_col, k).filter(F.size("sh") > 0)
    if materialize:
        base = _persist(base)
    # Signature + banding stay on the interpreted nested-transform path
    # DELIBERATELY (round 6, measured): the explode + 64-min-aggregate
    # rewrite that wins 3.5x for linking's ~20-char norms LOSES here —
    # word-3-gram shingle sets are ~200 x ~30-byte strings per doc, and
    # exploding them into 512-byte 64-hash rows through a groupBy costs
    # more than the single cache-local array traversal per doc
    # (interleaved A/B at 50k docs: 16.4 s vs 19.3 s; at sf0.1: 17-19 s
    # vs 21-26 s). The groupBy + broadcast join-back cap was also tried
    # and reverted: unlike the ngram path, the window's (band, bh)
    # exchange is exactly the partitioning the bucket self-join reuses,
    # so replacing it ADDS an exchange (50k docs: 23.4 s).
    bands = _minhash_bands(base, n_hashes, n_bands)
    if materialize:
        bands = _persist(bands)
    w = W.partitionBy("band", "bh")
    bands = _observed_cap_filter(
        bands.withColumn("bsize", F.count("*").over(w)), "bsize", bucket_cap, cap_obs
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return _verify_jaccard(cand, base, verify_threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed BIGINT in every engine


def simhash60(text_col):
    """60-bit SimHash from whitespace tokens, fully JVM-side.

    Per token: h = 60-bit int from the first 15 hex chars of md5(token)
    — md5 (not xxhash64) so DuckDB/Python oracles reproduce the exact
    signature in pure SQL (`simhash_dedup` oracle in plans/queries.py;
    xxhash64 has no DuckDB counterpart). Each of 60 bits votes +1/-1;
    signature bit i = sign of the vote sum. Since vote_i = 2*count_i - T
    (count_i = tokens with bit i set, T = token count), the bit is
    simply 2*count_i > T — so only COUNTS are accumulated, four of them
    packed per long (16-bit fields, no carries while T < 65536 distinct
    tokens, far beyond any real document): 15 aggregate() traversals
    instead of 60, each with cheaper mask-add merges. Semantically
    identical to the naive per-bit voting (pinned by the pure-python
    oracle test in tests/test_dedup.py).
    """
    toks = F.array_distinct(F.split(F.lower(text_col), r"\s+"))
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )
    ntok = F.size(toks).cast("long")

    # bit tests use bitwiseAND masks (Column methods work on lambda
    # variables where F.shiftright's py4j path does not); h < 2^60 so
    # every mask fits a positive long
    def _merge_for(j: int):
        def merge(acc, h):
            out = acc
            for f_idx in range(4):
                b = 4 * j + f_idx
                add = F.lit(1 << (16 * f_idx)).cast("long")
                out = out + F.when(
                    h.bitwiseAND(F.lit(1 << b)) != 0, add
                ).otherwise(F.lit(0).cast("long"))
            return out

        return merge

    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS // 4):
        packed = F.aggregate(hashes, F.lit(0).cast("long"), _merge_for(j))
        for f_idx in range(4):
            b = 4 * j + f_idx
            cnt = F.shiftrightunsigned(packed, 16 * f_idx).bitwiseAND(F.lit(0xFFFF))
            bit = F.when(cnt * 2 > ntok, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return sig


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig) SimHash table, whole-stage-codegen — bit-identical to
    ``simhash60`` per row, with no interpreted higher-order functions.

    ``simhash60`` is a pure projection, but its 15 ``aggregate()``
    traversals are CodegenFallback: every one re-walks the token-hash
    array interpreted, re-evaluating the md5/conv token hash per
    traversal (no common-subexpression elimination across aggregate
    lambdas). This is the linking.minhash_signatures rewrite applied to
    SimHash (guide §4.1: built-ins over opaque loops): explode the
    distinct tokens, compute each token's 60-bit md5 hash ONCE in a
    codegen projection, and reduce with 15 packed-count SUM aggregates
    (+ one count) per doc — algebraic, so map-side partial aggregation
    collapses the exploded rows to one row per doc per input partition
    before the (id, 15 longs) exchange. Measured at sf0.1 (5k docs,
    interleaved A/B): the signature pass drops ~6x; pair outputs pinned
    identical by tests.

    Null-text rows keep ``sig = 0`` exactly like the projection (there,
    null packed counts make every bit test fall to the otherwise(0)
    branch; here explode_outer emits one null token, the packed SUMs
    are null over it, and the same bit tests produce the same 0).
    """
    toks = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    ex = docs.select(F.col(id_col).alias("id"), F.explode_outer(toks).alias("t"))
    h = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    packed = []
    for j in range(SIMHASH_BITS // 4):
        expr = F.lit(0).cast("long")
        for f_idx in range(4):
            b = 4 * j + f_idx
            bit = F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1).cast("long"))
            expr = expr + F.shiftleft(bit, 16 * f_idx)
        packed.append(F.sum(expr).alias(f"p{j}"))
    agg = ex.groupBy("id").agg(F.count("t").alias("ntok"), *packed)
    sig = F.lit(0).cast("long")
    ntok = F.col("ntok")
    for j in range(SIMHASH_BITS // 4):
        for f_idx in range(4):
            b = 4 * j + f_idx
            cnt = F.shiftrightunsigned(F.col(f"p{j}"), 16 * f_idx).bitwiseAND(
                F.lit(0xFFFF)
            )
            bit = F.when(cnt * 2 > ntok, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sig = sig.bitwiseOR(F.shiftleft(bit, b))
    return agg.select("id", sig.alias("sig"))


def simhash_dedup_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, chunk_cap: int = 4096, cap_obs=None,
    materialize_sigs: bool = True,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Blocking: split the 60-bit signature into 4 x 15-bit chunks; any
    pair within hamming<=3 shares at least one exact chunk (pigeonhole).

    The chunk self-join runs over DISTINCT signatures, not documents:
    a near-dup family of any size collapses to a handful of signature
    rows before the quadratic step, so bucket size measures signature
    DIVERSITY per 15-bit chunk value — not corpus duplication — and
    `chunk_cap` only guards genuinely adversarial corpora (at sf0.1
    the hottest doc-level bucket holds 1,582 documents but only 573
    distinct signatures; doc-level blocking with the old 256 cap
    silently dropped 85% of the true pair set there). Document pairs
    are rebuilt from the surviving signature pairs by two member
    joins (cross-signature) plus a same-signature self-join
    (hamming 0).

    The (id, sig) table feeds five plan branches (same-sig self-join,
    two member expansions, distinct-sigs chunking x2). Pushed-filter
    differences between branches (`id < id` adds an isnotnull that the
    sig-equality joins lack) defeat Spark's exchange-reuse
    canonicalization, so an unpersisted plan scans the TEXT corpus
    once per branch and recomputes the 15-traversal signature each
    time. `materialize_sigs` therefore persists the two-column
    signature table (MEMORY_AND_DISK — a few dozen bytes/doc vs
    re-reading the full text 5x; measured at sf0.1: 18.8 s -> 7.5 s cold, 11.0 s -> 4.3 s warm).
    The cache is NOT auto-released (CacheManager holds cached plans
    until an explicit unpersist) — long-lived sessions call
    :func:`release_caches` once results are materialized; pass False to
    keep the operator fully lazy.
    """
    base = simhash_signatures(docs, id_col=id_col, text_col=text_col)
    if materialize_sigs:
        base = _persist(base)
    sigs = base.select("sig").distinct()
    chunks = sigs.select(
        "sig",
        F.posexplode(
            F.array(*[F.shiftright("sig", 15 * c).bitwiseAND(F.lit(0x7FFF)) for c in range(4)])
        ).alias("chunk", "cv"),
    )
    w = W.partitionBy("chunk", "cv")
    chunks = _observed_cap_filter(
        chunks.withColumn("csize", F.count("*").over(w)), "csize", chunk_cap, cap_obs
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    sig_pairs = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.sig") < F.col("y.sig")),
        )
        .select(F.col("x.sig").alias("sig_a"), F.col("y.sig").alias("sig_b"))
        .dropDuplicates(["sig_a", "sig_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
    )
    same = (
        base.alias("x")
        .join(
            base.alias("y"),
            (F.col("x.sig") == F.col("y.sig")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    cross = (
        sig_pairs.join(base.alias("m1"), F.col("sig_a") == F.col("m1.sig"))
        .join(base.alias("m2"), F.col("sig_b") == F.col("m2.sig"))
        .select(
            F.least("m1.id", "m2.id").alias("a"),
            F.greatest("m1.id", "m2.id").alias("b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine_sim(vec_a, vec_b):
    """Cosine similarity of two float-array columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(vec_a, F.lit(0.0).cast("double"), lambda a, v: a + v * v))
    nb = F.sqrt(F.aggregate(vec_b, F.lit(0.0).cast("double"), lambda a, v: a + v * v))
    return dot / (na * nb)


def _lsh_table_keys_udf(tables):
    """Sign-LSH bucket keys for ALL tables at once: one Arrow-batch BLAS
    matmul against the (n_tables * n_planes, dim) hyperplane matrix,
    sign bits packed into one long per table. Replaces n_tables *
    n_planes unrolled aggregate(zip_with(...)) expressions, each
    embedding its hyperplane as a literal array — the same
    codegen-blowup family as the unrolled IVF assignment; this shape
    compiles and runs identically whether n_planes * n_tables is 48 or
    4096 (the nearest_centroid_udf discipline, similarity.py:82-95)."""
    import numpy as np

    n_tables, n_planes, dim = tables.shape
    p_t = np.ascontiguousarray(
        tables.reshape(n_tables * n_planes, dim).astype(np.float64).T
    )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        install_stable_zip_importers()
        x = np.array(v.tolist(), dtype=np.float64)
        if len(x) == 0:
            return pd.Series([], dtype=object)
        bits = (x @ p_t) > 0  # (batch, n_tables * n_planes)
        packed = bits.reshape(len(x), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(packed.tolist())

    return keys


def embedding_dup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_planes: int = 16, n_tables: int = 4,
    bucket_cap: int = 512, cap_obs=None, materialize: bool = True,
) -> DataFrame:
    """Near-identical embeddings via sign-LSH blocking + exact cosine verify.

    n_tables independent tables of n_planes random hyperplanes; vectors
    agreeing on all signs in any table become candidates.

    Join-width discipline (the minhash/simhash analysis): the bucket
    table is (id, tbl, key) — the embedding vectors are joined back
    from the base table only for surviving candidate pairs, instead of
    shuffling n_tables copies of every vector through the bucket
    exchange and self-join. `materialize` persists the (id, vector)
    base so the Arrow-batch key UDF runs once and the two member joins
    read the cache instead of re-scanning parquet.
    """
    import numpy as np

    dim = len(emb.select(vec_col).first()[0])
    rng = np.random.default_rng(42)
    tables = rng.standard_normal((n_tables, n_planes, dim))

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if materialize:
        base = _persist(base)
    keyed = base.withColumn("ks", _lsh_table_keys_udf(tables)(F.col("v")))
    buckets = keyed.select("id", F.posexplode("ks").alias("tbl", "key"))
    if materialize:
        buckets = _persist(buckets)
    w = W.partitionBy("tbl", "key")
    buckets = _observed_cap_filter(
        buckets.withColumn("bsize", F.count("*").over(w)), "bsize", bucket_cap, cap_obs
    )
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.join(base.select(F.col("id").alias("a"), F.col("v").alias("va")), "a")
        .join(base.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b")
        .withColumn("cosine", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup, on the blocking kernel in operators/linking.py
# (delta_bucket_pairs): block keys are pure functions of the text, so
# per-batch key tables are append-only; candidate generation expands
# only buckets a NEW document landed in and emits only pairs with >= 1
# new member.
# Pairs among old members were candidates on an earlier batch, so the
# caller's accumulated pair table already holds their verified
# survivors: accumulated ∪ delta == full recompute, UNLESS a touched
# bucket CROSSED its cap this batch (its old pairs must vanish with the
# bucket — only a full rebuild reproduces that), which is detected and
# returned for fallback by the same kernel incremental linking uses.
# ---------------------------------------------------------------------------


def minhash_block_keys(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, n_hashes: int = 64, n_bands: int = 16,
) -> DataFrame:
    """(id, band, bh): the banded MinHash bucket table — a pure function
    of the text, identical to the blocking table minhash_dedup_pairs
    builds internally, exposed so batches can persist their keys once."""
    base = _shingle_base(docs, id_col, text_col, k).filter(F.size("sh") > 0)
    return _minhash_bands(base, n_hashes, n_bands)


def ngram_block_keys(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, g): exploded word-k-gram blocking keys (the gram STRING, so
    the delta cap counts true grams exactly like the full path)."""
    base = _shingle_base(docs, id_col, text_col, k)
    return base.select("id", F.explode("sh").alias("g"))


def _jaccard_pairs_delta(
    docs: DataFrame, keyed_all: DataFrame, key_cols: list[str], cap: int,
    id_col: str, text_col: str, k: int, threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """Delta candidates from the shared blocking kernel, then exact
    Jaccard verification. Shingle arrays are computed ONLY for candidate
    members (a semi-join against the docs table), so the per-batch cost
    is O(new-touched buckets + candidates), never a corpus re-shingle."""
    cand, crossed = linking.delta_bucket_pairs(keyed_all, key_cols, "id", cap)
    ids = cand.select(F.col("a").alias("id")).union(
        cand.select(F.col("b").alias("id"))
    ).distinct()
    sh = _shingle_base(docs, id_col, text_col, k).join(ids, "id", "leftsemi")
    return _verify_jaccard(cand, sh, threshold), crossed


def minhash_dedup_pairs_delta(
    docs: DataFrame, keyed_all: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, verify_threshold: float = 0.7, bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash near-dup pairs.

    ``keyed_all``: union of every batch's :func:`minhash_block_keys`
    output plus ``is_new`` marking ids first seen THIS batch.
    accumulated_pairs ∪ delta == full recompute (pinned by tests)
    unless ``crossed`` is non-empty.
    """
    return _jaccard_pairs_delta(
        docs, keyed_all, ["band", "bh"], bucket_cap,
        id_col, text_col, k, verify_threshold,
    )


def ngram_jaccard_pairs_delta(
    docs: DataFrame, keyed_all: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, threshold: float = 0.8, block_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Incremental capped n-gram Jaccard pairs; ``keyed_all`` is the
    accumulated :func:`ngram_block_keys` union with ``is_new``."""
    return _jaccard_pairs_delta(
        docs, keyed_all, ["g"], block_cap, id_col, text_col, k, threshold
    )


# ---------------------------------------------------------------------------
# End-to-end dedup: near-dup pairs -> clusters -> keeper selection
# ---------------------------------------------------------------------------

def dedup_keep_min(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Collapse near-duplicate clusters to one keeper row each.

    pairs(a, b) are near-dup edges (from any of the pair generators
    above); clusters = connected components over them; keeper = min id
    per cluster. Returns docs + `keep boolean` + `cluster_id` (the
    keeper's id; rows outside any pair keep themselves).

    The same CC machinery as entity canonicalization
    (operators/components.py) — one implementation, two pipeline uses.

    Ids round-trip through a reversible node encoding: numeric ids are
    zero-padded (lexicographic min == numeric min for non-negative
    values; negative/other ids still cluster correctly — the keeper is
    then the deterministic lexicographic-min representative), and the
    raw id rides alongside in a node->id map joined back after CC, so
    string / arbitrary ids never suffer a lossy cast.
    """
    from pdfmef_spark.operators.components import connected_components

    id_type = dict(docs.dtypes)[id_col]
    integral = id_type in ("tinyint", "smallint", "int", "bigint")
    if integral:
        enc = lambda c: F.lpad(c.cast("string"), 20, "0")  # noqa: E731
    else:
        enc = lambda c: c.cast("string")  # noqa: E731

    endpoints = (
        pairs.select(F.col("a").alias("raw"))
        .union(pairs.select(F.col("b").alias("raw")))
        .distinct()
        .withColumn("node", enc(F.col("raw")))
    )
    edges = pairs.select(enc(F.col("a")).alias("src"), enc(F.col("b")).alias("dst"))
    comp = connected_components(edges)
    # node -> raw id on both sides of the assignment (reversible encoding)
    assign = (
        comp.join(endpoints, "node")
        .select(F.col("raw").alias(id_col), F.col("component"))
        .join(
            endpoints.select(
                F.col("node").alias("component"), F.col("raw").alias("cluster_id")
            ),
            "component",
        )
        .select(id_col, "cluster_id")
    )
    out = docs.join(assign, id_col, "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    )
    return out.withColumn("keep", F.col("cluster_id") == F.col(id_col))
