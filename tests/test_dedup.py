"""Dedup family: exact-Jaccard oracle checks, MinHash recall, SimHash
hamming oracle, embedding-LSH recall."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pdfmef_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def _exact_jaccard_pairs(rows, k=3, threshold=0.7):
    def grams(text):
        t = text.lower().split()
        return {" ".join(t[i : i + k]) for i in range(max(1, len(t) - k + 1))}

    gs = {r.doc_id: grams(r.text) for r in rows}
    out = set()
    for a, b in itertools.combinations(sorted(gs), 2):
        inter = len(gs[a] & gs[b])
        if inter and inter / len(gs[a] | gs[b]) >= threshold:
            out.add((a, b))
    return out


def test_ngram_jaccard_matches_python_oracle(spark, docs):
    rows = docs.collect()
    expected = _exact_jaccard_pairs(rows, threshold=0.7)
    got = {
        (r.a, r.b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.7, block_cap=None).collect()
    }
    assert got == expected and len(expected) > 0


def test_minhash_recall_vs_exact(spark, docs):
    """LSH candidates + verify must recover >=95% of true J>=0.8 pairs,
    and verification makes precision exact."""
    exact = {
        (r.a, r.b) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    mh = {(r.a, r.b) for r in dedup.minhash_dedup_pairs(docs, verify_threshold=0.8).collect()}
    assert mh <= exact  # exact-verify step: no false positives
    assert len(mh) / max(len(exact), 1) >= 0.95


def test_simhash_pairs_hamming_correct(spark, docs):
    got = dedup.simhash_dedup_pairs(docs, max_hamming=6).collect()
    assert len(got) > 0
    sigs = {
        r.id: r.sig
        for r in docs.select(
            F.col("doc_id").alias("id"), dedup.simhash60(F.col("text")).alias("sig")
        ).collect()
    }
    for r in got:
        ham = bin(sigs[r.a] ^ sigs[r.b]).count("1")
        assert ham == r.hamming <= 6


def test_simhash_family_collapse_beats_doc_level_cap(spark):
    """Blocking over DISTINCT signatures keeps recall where doc-level
    blocking would cap out: 120 identical docs (one signature) plus a
    few near/far variants, with chunk_cap=8 — far below the 120-doc
    family. The pair set must still equal brute force over signatures,
    because the family is ONE row at the capped quadratic step.

    Regression for the sf0.1 finding: doc-level bucket 1,582 docs vs
    573 distinct signatures; the old 256 doc-level cap silently dropped
    85% of the true hamming<=3 pairs."""
    base_text = " ".join(f"tok{i}" for i in range(60))
    rows = [(f"fam{i:03d}", base_text) for i in range(120)]
    # near variant (few changed tokens -> small hamming) and far outliers
    rows.append(("near00", base_text.replace("tok0 tok1", "alpha beta")))
    rows += [(f"far{i}", " ".join(f"zz{i}w{j}" for j in range(60))) for i in range(3)]
    docs_df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.a, r.b, r.hamming)
        for r in dedup.simhash_dedup_pairs(docs_df, max_hamming=3, chunk_cap=8).collect()
    }
    sigs = {
        r.id: r.sig
        for r in docs_df.select(
            F.col("doc_id").alias("id"), dedup.simhash60(F.col("text")).alias("sig")
        ).collect()
    }
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == expected
    assert len(expected) >= 120 * 119 // 2  # the identical family alone


def test_simhash60_matches_python_oracle(spark, docs):
    """The packed-counter JVM SimHash equals a naive pure-python
    reimplementation (md5-prefix hash + per-bit voting) — pins both the
    bit-packing arithmetic and the hash. The same md5 construction backs
    the DuckDB simhash_dedup oracle."""
    import hashlib
    import re

    def py_simhash(text: str) -> int:
        toks = list(dict.fromkeys(re.split(r"\s+", text.lower())))
        votes = [0] * dedup.SIMHASH_BITS
        for t in toks:
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            for i in range(dedup.SIMHASH_BITS):
                votes[i] += 1 if (h >> i) & 1 else -1
        sig = 0
        for i, v in enumerate(votes):
            if v > 0:
                sig |= 1 << i
        return sig

    rows = docs.limit(40).select(
        "doc_id", "text", dedup.simhash60(F.col("text")).alias("sig")
    ).collect()
    for r in rows:
        assert r.sig == py_simhash(r.text), r.doc_id


def test_embedding_dup_pairs(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # plant exact duplicates to guarantee recall targets
    dup = emb.limit(5).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)
    got = dedup.embedding_dup_pairs(both, threshold=0.999)
    pairs = {(r.a, r.b) for r in got.collect()}
    for i in range(5):
        assert (i, i + 100000) in pairs


def test_dedup_keep_min(spark, docs):
    """Cluster collapse: keeper = min doc_id per near-dup component,
    verified against a python union-find over the same pairs."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    out = dedup.dedup_keep_min(docs, pairs)
    got = {r.doc_id: (r.cluster_id, r.keep) for r in out.collect()}
    # python oracle
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for x in parent:
        comp_min.setdefault(find(x), set()).add(x)
    expect_cluster = {x: min(comp_min[find(x)]) for x in parent}
    n_docs = docs.count()
    assert len(got) == n_docs
    for doc_id, (cluster, keep) in got.items():
        expect = expect_cluster.get(doc_id, doc_id)
        assert cluster == expect
        assert keep == (doc_id == expect)
    # at least one cluster actually collapsed
    assert sum(1 for _, (c, k) in got.items() if not k) > 0


def test_dedup_keep_min_string_ids(spark):
    """String doc ids round-trip through the node encoding: the join back
    to docs must match (regression: padded nodes never matched raw ids)."""
    docs = spark.createDataFrame(
        [("doc-a", "x"), ("doc-b", "x"), ("doc-zz", "y"), ("solo", "z")],
        "doc_id string, text string",
    )
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-zz")], "a string, b string"
    )
    out = {r.doc_id: (r.cluster_id, r.keep) for r in dedup.dedup_keep_min(docs, pairs).collect()}
    assert out == {
        "doc-a": ("doc-a", True),
        "doc-b": ("doc-a", False),
        "doc-zz": ("doc-a", False),
        "solo": ("solo", True),
    }


def test_dedup_cap_drop_counters(spark):
    """Oversized shingle blocks / LSH buckets are dropped with exact
    counters riding the same job (no extra pass): 70 identical docs with
    block_cap=64 drop every gram bucket; 5 docs drop none."""
    from pyspark.sql import Observation

    # 70 identical hot docs (every gram bucket over cap) + one surviving
    # near-dup pair: the pair keeps the final output non-empty (AQE's
    # empty-relation propagation drops sub-root CollectMetrics rows on
    # empty results), so the counters are retrievable
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(70)]
    rows += [(100, "one two three four five six"), (101, "one two three four five six")]
    many = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("ngram_caps")
    n = dedup.ngram_jaccard_pairs(many, block_cap=64, cap_obs=obs).count()
    assert n == 1  # only the planted pair survives the capped blocks
    m = {k: int(v) for k, v in dict(obs.get).items()}
    # 4 distinct 3-gram shingles in the hot text, each bucket holds 70 > cap
    assert m["buckets_dropped"] == 4
    assert m["members_dropped"] == 4 * 70

    few = many.limit(5)
    obs2 = Observation("ngram_caps_ok")
    dedup.ngram_jaccard_pairs(few, block_cap=64, cap_obs=obs2).count()
    m2 = {k: int(v) for k, v in dict(obs2.get).items()}
    assert m2 == {"buckets_dropped": 0, "members_dropped": 0}

    obs3 = Observation("minhash_caps")
    n3 = dedup.minhash_dedup_pairs(many, bucket_cap=64, cap_obs=obs3).count()
    assert n3 == 1
    m3 = {k: int(v) for k, v in dict(obs3.get).items()}
    assert m3["buckets_dropped"] >= 1 and m3["members_dropped"] >= 70


def test_simhash_signatures_match_projection(spark, docs):
    """The explode + packed-count-SUM signature table (round 6) is
    bit-identical to the simhash60 projection — including the null-text
    row, whose sig degenerates to 0 on both paths (null packed counts:
    every bit test falls to otherwise(0))."""
    extra = spark.createDataFrame(
        [("nulldoc", None), ("emptydoc", ""), ("onedoc", "solo")],
        "doc_id string, text string",
    )
    both = docs.selectExpr("cast(doc_id as string) doc_id", "text").unionByName(extra)
    want = {
        r.id: r.sig
        for r in both.select(
            F.col("doc_id").alias("id"), dedup.simhash60(F.col("text")).alias("sig")
        ).collect()
    }
    got = {r.id: r.sig for r in dedup.simhash_signatures(both).collect()}
    assert got == want and got["nulldoc"] == 0


def test_minhash_band_table_matches_lambda_path(spark, docs):
    """The explode + 64-min-aggregate banding (round 6) reproduces the
    interpreted minhash_signature band hashes exactly, so the candidate
    set is unchanged."""
    n_hashes, n_bands, r = 64, 16, 4
    base = docs.select(
        F.col("doc_id").alias("id"), dedup.word_shingles(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    old_sig = base.withColumn("sig", dedup.minhash_signature(F.col("sh"), n_hashes))
    old_bands = old_sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.xxhash64(
                    *[F.element_at(F.col("sig"), b * r + j + 1) for j in range(r)]
                ),
            )
        ).alias("band", "bh"),
    )
    want = {(x.id, x.band, x.bh) for x in old_bands.collect()}

    ex = base.select("id", F.explode("sh").alias("s"))
    hashed = ex.select(
        "id", *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(n_hashes)]
    )
    sig = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)])
            for b in range(n_bands)
        ]
    )
    got = {
        (x.id, x.band, x.bh)
        for x in sig.select("id", F.posexplode(band_arr).alias("band", "bh")).collect()
    }
    assert got == want and len(want) > 0


def _pairset(df):
    return {(r.a, r.b, r.jaccard) for r in df.collect()}


def test_minhash_delta_equals_full_minus_old(spark, docs):
    """Incremental MinHash (VERDICT r5 #4): accumulated block keys +
    delta candidate generation must reproduce exactly the pairs a full
    recompute adds over the old corpus — delta == full(all) \\ full(old)
    — with no bucket crossing its cap at this scale."""
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    cap = 1024
    keyed_all = (
        dedup.minhash_block_keys(old).withColumn("is_new", F.lit(False))
        .unionByName(
            dedup.minhash_block_keys(new).withColumn("is_new", F.lit(True))
        )
    )
    delta, crossed = dedup.minhash_dedup_pairs_delta(
        docs, keyed_all, bucket_cap=cap
    )
    assert crossed.count() == 0
    full_all = _pairset(
        dedup.minhash_dedup_pairs(docs, bucket_cap=cap, materialize=False)
    )
    full_old = _pairset(
        dedup.minhash_dedup_pairs(old, bucket_cap=cap, materialize=False)
    )
    got = _pairset(delta)
    assert got == full_all - full_old
    assert full_old | got == full_all
    assert len(got) > 0


def test_ngram_delta_equals_full_minus_old(spark, docs):
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    cap = 1024
    keyed_all = (
        dedup.ngram_block_keys(old).withColumn("is_new", F.lit(False))
        .unionByName(dedup.ngram_block_keys(new).withColumn("is_new", F.lit(True)))
    )
    delta, crossed = dedup.ngram_jaccard_pairs_delta(
        docs, keyed_all, threshold=0.7, block_cap=cap
    )
    assert crossed.count() == 0
    full_all = _pairset(
        dedup.ngram_jaccard_pairs(
            docs, threshold=0.7, block_cap=cap, materialize=False
        )
    )
    full_old = _pairset(
        dedup.ngram_jaccard_pairs(
            old, threshold=0.7, block_cap=cap, materialize=False
        )
    )
    got = _pairset(delta)
    assert got == full_all - full_old
    assert len(got) > 0


def test_dedup_delta_detects_cap_crossing(spark):
    """A bucket growing 2 -> 3 past cap=2 with two pre-existing members
    must surface in `crossed` (full-recompute semantics drop the whole
    bucket's old pairs, which a delta cannot reproduce) — for a gram
    bucket on the n-gram path and for band buckets on the MinHash path
    (identical texts share every band)."""
    mk = lambda i, txt: (i, txt)  # noqa: E731
    old_rows = [mk(1, "shared trigram anchor one"), mk(2, "shared trigram anchor two")]
    new_rows = [mk(3, "shared trigram anchor three")]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    both = old.unionByName(new)
    keyed_all = (
        dedup.ngram_block_keys(old).withColumn("is_new", F.lit(False))
        .unionByName(dedup.ngram_block_keys(new).withColumn("is_new", F.lit(True)))
    )
    _, crossed = dedup.ngram_jaccard_pairs_delta(
        both, keyed_all, threshold=0.9, block_cap=2
    )
    assert crossed.count() > 0

    same = "the same near duplicate text in every copy"
    old = spark.createDataFrame([mk(1, same), mk(2, same)], "doc_id long, text string")
    new = spark.createDataFrame([mk(3, same)], "doc_id long, text string")
    keyed_all = (
        dedup.minhash_block_keys(old).withColumn("is_new", F.lit(False))
        .unionByName(dedup.minhash_block_keys(new).withColumn("is_new", F.lit(True)))
    )
    pairs, crossed = dedup.minhash_dedup_pairs_delta(
        old.unionByName(new), keyed_all, bucket_cap=2
    )
    assert {(r.band, r.n, r.n_new) for r in crossed.collect()} == {
        (b, 3, 1) for b in range(16)
    }
    assert pairs.count() == 0  # every touched bucket is over cap
