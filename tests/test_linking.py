"""Entity linking: pair scoring P/R on golden labeled pairs, blocking recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdfmef_spark.functions import normalize_surface
from pdfmef_spark.operators import linking
from pdfmef_spark.sources import store


def test_pair_scoring_on_golden_links(spark):
    """Score every labeled golden pair directly (no blocking): P/R >= 0.95."""
    gl = store.read_golden(spark, 0.001, "golden_links")
    normed = gl.select(
        "same_entity",
        normalize_surface(F.col("surface_a")).alias("a"),
        normalize_surface(F.col("surface_b")).alias("b"),
    ).collect()
    c: dict[tuple[bool, bool], int] = {}
    for r in normed:
        key = (r.same_entity, linking.pair_score(r.a, r.b) >= 0.70)
        c[key] = c.get(key, 0) + 1
    tp = c.get((True, True), 0)
    fp = c.get((False, True), 0)
    fn = c.get((True, False), 0)
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    assert precision >= 0.95, f"precision {precision:.3f} (fp={fp})"
    assert recall >= 0.95, f"recall {recall:.3f} (fn={fn})"


def test_link_entities_scores_each_pair_once(spark):
    """The links plan holds exactly one Python evaluation: scoring and
    the threshold run together, after candidate_pairs' distinct, so no
    pair is scored twice."""
    import re

    mentions = spark.createDataFrame(
        [("PERSON", "Alan Turing"), ("PERSON", "A. Turing"), ("ORG", "Acme Corp")],
        "type string, surface string",
    )
    plan = linking.link_entities(mentions)._jdf.queryExecution().executedPlan().toString()
    python_nodes = re.findall(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow", plan
    )
    assert len(python_nodes) == 1, plan


def test_blocking_recall_on_corpus(spark, smoke_pages):
    """Candidate generation must cover >=95% of true same-entity pairs
    actually co-occurring in the corpus mentions."""
    from pdfmef_spark.operators import extract, triples as triples_op

    ext = extract.extract_pages(smoke_pages)
    trip = triples_op.extract_triples(ext)
    mentions = triples_op.mentions_from_triples(trip)
    keys = linking.surface_keys(mentions)
    pairs = linking.candidate_pairs(keys)

    gold = store.read_golden(spark, 0.001, "golden_surfaces")
    gk = gold.select(
        "entity_key", normalize_surface(F.col("surface")).alias("norm")
    ).distinct()
    true_pairs = (
        gk.alias("x")
        .join(gk.alias("y"), (F.col("x.entity_key") == F.col("y.entity_key")) & (F.col("x.norm") < F.col("y.norm")))
        .select(F.col("x.norm").alias("a"), F.col("y.norm").alias("b"))
        .distinct()
    )
    n_true = true_pairs.count()
    covered = true_pairs.join(pairs.select("a", "b").distinct(), ["a", "b"], "left_semi").count()
    assert covered / max(n_true, 1) >= 0.95, f"blocking recall {covered}/{n_true}"


def test_persisted_surface_keys_coalesce(spark, smoke_pages):
    """The persisted vocabulary is coalesced like any other shuffle
    output: the four write jobs that scan it in run_pipeline must not
    each read spark.sql.shuffle.partitions near-empty cache blocks."""
    from pdfmef_spark.operators import extract, triples as triples_op

    ext = extract.extract_pages(smoke_pages)
    mentions = triples_op.mentions_from_triples(triples_op.extract_triples(ext))
    keys = linking.surface_keys(mentions).persist()
    try:
        assert keys.count() > 0
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert keys.rdd.getNumPartitions() < shuffle_partitions
    finally:
        keys.unpersist()

def test_end_to_end_linking_quality(spark, smoke_pages):
    """Cluster assignments vs golden entity keys: pairwise P/R >= 0.95."""
    from pdfmef_spark.operators import components, extract, triples as triples_op

    ext = extract.extract_pages(smoke_pages)
    trip = triples_op.extract_triples(ext)
    mentions = triples_op.mentions_from_triples(trip)
    keys = linking.surface_keys(mentions)
    links = linking.link_entities(mentions)
    assign = components.assign_components(keys, links)

    gold = store.read_golden(spark, 0.001, "golden_surfaces")
    gk = (
        gold.select("entity_key", normalize_surface(F.col("surface")).alias("norm"))
        .distinct()
        .join(assign.select("norm", "component").distinct(), "norm")
    )
    # pairwise over norms that share an entity_key (truth) vs share a component (pred)
    x, y = gk.alias("x"), gk.alias("y")
    joined = x.join(y, F.col("x.norm") < F.col("y.norm"))
    both = joined.select(
        (F.col("x.entity_key") == F.col("y.entity_key")).alias("truth"),
        (F.col("x.component") == F.col("y.component")).alias("pred"),
    )
    c = {(r.truth, r.pred): r["count"] for r in both.groupBy("truth", "pred").count().collect()}
    tp = c.get((True, True), 0)
    fp = c.get((False, True), 0)
    fn = c.get((True, False), 0)
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    assert precision >= 0.95, f"cluster precision {precision:.3f} (fp={fp})"
    assert recall >= 0.95, f"cluster recall {recall:.3f} (fn={fn})"


def test_cap_drop_counters_planted_hot_bucket(spark):
    """A planted hot last-token block (> TOKEN_BLOCK_CAP members) must be
    dropped AND counted — recall loss from capping is measured, never
    silent (VERDICT r02). A benign vocabulary drops (and counts) zero."""
    from pyspark.sql import Observation

    n_hot = linking.TOKEN_BLOCK_CAP + 44
    hot = spark.createDataFrame(
        [("ORG", f"acme{i:04d} corp") for i in range(n_hot)],
        "type string, surface string",
    )
    # threshold 0.0 keeps the output non-empty: AQE's empty-relation
    # propagation drops sub-root CollectMetrics rows on empty results
    obs = Observation("hot_caps")
    linking.link_entities(hot, 0.0, cap_obs=obs).count()
    m = {k: int(v) for k, v in dict(obs.get).items()}
    assert m["buckets_dropped"] >= 1
    assert m["members_dropped"] >= n_hot

    benign = spark.createDataFrame(
        [("ORG", f"acme{i:04d} corp{i:04d}") for i in range(50)],
        "type string, surface string",
    )
    obs2 = Observation("benign_caps")
    linking.link_entities(benign, 0.0, cap_obs=obs2).count()
    m2 = {k: int(v) for k, v in dict(obs2.get).items()}
    assert m2 == {"buckets_dropped": 0, "members_dropped": 0}


def test_minhash_signatures_match_lambda_path(spark):
    """The codegen shingle-hash-join signatures must be bit-identical to
    the interpreted lambda path (same xxhash64(shingle, seed) family,
    same per-seed min), so swapping the production path changed NO
    candidate pair."""
    from pdfmef_spark.functions import char_shingles
    from pdfmef_spark.functions.xxh64 import SPARK_SEED, xxh64_signed
    from pdfmef_spark.operators import dedup

    norms = spark.createDataFrame(
        [("PERSON", n) for n in [
            "alan turing", "a turing", "turing alan", "acme corp",
            "acme corporation", "orbital logic systems", "x",
        ]],
        "type string, norm string",
    )
    sig_expr = dedup.minhash_signature(char_shingles(F.col("norm")), linking.N_HASHES)
    via_lambda = {
        r.norm: list(r.sig)
        for r in norms.select("norm", sig_expr.alias("sig")).collect()
    }
    via_join = {
        r["norm"]: [r[f"h{i}"] for i in range(linking.N_HASHES)]
        for r in linking.minhash_signatures(norms).collect()
    }
    assert via_join == via_lambda

    # band keys: "b:<band>:<xxhash64 of the band's lambda-path values>",
    # hashed here in pure Python, so bucket_keys written by any earlier
    # version of the plan stay joinable with new ones
    def spark_xxhash64(longs):
        h = SPARK_SEED
        for v in longs:
            h = xxh64_signed(v.to_bytes(8, "little", signed=True), h & (2**64 - 1))
        return h

    r = linking.ROWS_PER_BAND
    expected = {
        norm: {
            f"b:{b}:{spark_xxhash64(sig[b * r:(b + 1) * r])}"
            for b in range(linking.N_BANDS)
        }
        for norm, sig in via_lambda.items()
    }
    got: dict[str, set[str]] = {}
    for row in linking.tag_block_keys(norms).collect():
        if row.bkey.startswith("b:"):
            got.setdefault(row.norm, set()).add(row.bkey)
    assert got == expected


def test_delta_candidate_pairs_equals_full_minus_old(spark):
    """With no cap crossing, delta pairs over (old + new) norms must be
    EXACTLY full(all) \\ full(old): every pair touching a new norm, no
    pair among old norms (those were candidates on the earlier tick).
    This is the invariant that makes prev_links UNION score(delta)
    equal a full links recompute."""
    old = spark.createDataFrame(
        [("E", n) for n in [
            "ada lovelace", "a lovelace", "grace hopper",
            "orbital logic systems", "orbital logic",
        ]],
        "type string, norm string",
    )
    new = spark.createDataFrame(
        [("E", n) for n in ["ada m lovelace", "g hopper", "acme corp"]],
        "type string, norm string",
    )
    keyed_all = (
        linking.tag_block_keys(old).withColumn("is_new", F.lit(False))
        .unionByName(linking.tag_block_keys(new).withColumn("is_new", F.lit(True)))
    )
    d_pairs, crossed = linking.delta_candidate_pairs(keyed_all)
    assert crossed.count() == 0
    got = {tuple(r) for r in d_pairs.collect()}
    full_all = {tuple(r) for r in linking.candidate_pairs(old.unionByName(new)).collect()}
    full_old = {tuple(r) for r in linking.candidate_pairs(old).collect()}
    assert got == full_all - full_old
    assert got  # the planted aliases must actually produce candidates


def test_delta_candidate_pairs_detects_cap_crossing(spark, monkeypatch):
    """A bucket with >= 2 old members that a new norm pushes over its
    cap must land in the crossed frame (the caller's full-rebuild
    trigger); a bucket ALREADY over cap must not (it stays skipped on
    both paths, so a perpetually hot block can't force a rebuild every
    tick)."""
    monkeypatch.setattr(linking, "TOKEN_BLOCK_CAP", 2)
    old2 = [("E", "alpha systems"), ("E", "beta systems")]
    over = [("E", f"name{i} widgets") for i in range(4)]  # already > 2
    new = [("E", "gamma systems"), ("E", "omega widgets")]
    keyed_all = (
        linking.tag_block_keys(spark.createDataFrame(old2 + over, "type string, norm string"))
        .withColumn("is_new", F.lit(False))
        .unionByName(
            linking.tag_block_keys(spark.createDataFrame(new, "type string, norm string"))
            .withColumn("is_new", F.lit(True))
        )
    )
    _, crossed = linking.delta_candidate_pairs(keyed_all)
    rows = crossed.collect()
    assert any(r.bkey == "t:systems" for r in rows)  # 2 -> 3 crossed
    assert not any(r.bkey == "t:widgets" for r in rows)  # 4 -> 5 stays skipped
