"""Similarity search over embedding columns: brute-force cosine top-k
baseline + IVF-style (coarse-quantizer bucketed) scale path.

`embeddings(vec_id, embedding array<float>, label)` is the input shape.

Brute force: query broadcast against all vectors, JVM-side dot products,
window top-k — exact, O(N) per query; right when queries are few.

IVF path: k-means-lite coarse centroids (seeded distributed sample,
trained driver-side once), every vector assigned to its nearest
centroid by ONE vectorized Arrow batch (numpy argmax against the
centroid matrix shipped in the UDF closure — a real IVF needs ~sqrt(N)
centroids, i.e. thousands at 100 TB, which must be a (batch x dim) @
(dim x k) matmul, never an unrolled Catalyst expression chain), queries
probe only the nprobe nearest centroid buckets — the standard
inverted-file ANN layout re-expressed relationally: assignment is a
groupBy-free map, probing is a semi-join on centroid id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from pdfmef_spark.functions.zipimports import install_stable_zip_importers
from pdfmef_spark.operators.dedup import cosine_sim


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k per query. queries is small -> broadcast;
    the big side never shuffles (window partitions by query id)."""
    joined = emb.crossJoin(F.broadcast(queries))
    scored = joined.withColumn("cosine", cosine_sim(F.col(vec_col), F.col(q_vec_col)))
    w = W.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def train_centroids(
    emb: DataFrame, n_centroids: int = 16, vec_col: str = "embedding",
    sample: int = 2048, iters: int = 8, seed: int = 42,
) -> np.ndarray:
    """k-means on a driver-side sample (Lloyd's, fixed iters, seeded).

    The sample is a seeded `df.sample()` over the whole table — a
    `.limit()` would take whatever rows the first files yield, biasing
    the quantizer toward one shard's distribution (the ~20% overdraw is
    trimmed by a seeded driver-side shuffle, NOT a limit, for the same
    reason). At 100 TB the sample is still a few thousand rows —
    training cost is O(sample * k * iters) on the driver; assignment of
    the full table stays distributed."""
    n = emb.count()
    if n == 0:
        raise ValueError("train_centroids: embeddings table is empty")
    frac = min(1.0, (sample * 1.2) / n)
    rows = emb.select(vec_col).sample(fraction=frac, seed=seed).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    if len(x) > sample:
        trim = np.random.default_rng(seed).permutation(len(x))[:sample]
        x = x[trim]
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents


def nearest_centroid_udf(cents: np.ndarray):
    """Vectorized Arrow-batch centroid assignment: one numpy matmul +
    argmax per batch, centroids shipped once per executor in the UDF
    closure (the broadcast-model scoring shape). Unlike an unrolled
    per-centroid expression chain, this stays O(batch * k * dim) BLAS
    work and compiles identically at k=16 or k=65536."""
    c_t = np.ascontiguousarray(cents.astype(np.float64).T)  # (dim, k)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        install_stable_zip_importers()
        x = np.array(v.tolist(), dtype=np.float64)  # (batch, dim)
        return pd.Series(np.argmax(x @ c_t, axis=1).astype(np.int32))

    return assign


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, n_centroids: int = 16,
    nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN: probe only the nprobe closest centroid buckets per query.

    Recall < 1.0 by construction; tested against the brute-force oracle
    for recall@k >= 0.9 with nprobe=4/16 buckets.
    """
    cents = train_centroids(emb, n_centroids, vec_col)
    tagged = emb.withColumn("cent", nearest_centroid_udf(cents)(F.col(vec_col)))

    # per-query probe list: nprobe nearest centroids (computed driver-side
    # for the broadcast-small query set)
    qrows = queries.collect()
    probe_rows = []
    for r in qrows:
        qv = np.array(r[q_vec_col], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(cents @ qv))[:nprobe]
        for c in order:
            probe_rows.append((r[q_id_col], int(c), list(map(float, r[q_vec_col]))))
    spark = emb.sparkSession
    probes = spark.createDataFrame(
        probe_rows, f"{q_id_col} long, cent int, {q_vec_col} array<double>"
    )

    joined = tagged.join(F.broadcast(probes), "cent")
    scored = joined.withColumn("cosine", cosine_sim(F.col(vec_col), F.col(q_vec_col)))
    w = W.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )
