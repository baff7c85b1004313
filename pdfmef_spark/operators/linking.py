"""Entity linking: normalization -> MinHash-LSH blocking -> pair scoring.

Generalizes the reference's implicit entity identity (pdfmef treats each
extracted surface form as-is; authors/affiliations are pipe-joined
strings, src/extractor/csxextract/extractors/tei.py:45-65) into explicit
alias resolution: "Alan Turing" / "A. Turing" / "Turing, Alan" must land
in one entity.

Scale design (the part that must survive 10^12 docs):
  * the quadratic surface x surface space is never materialized — only
    LSH-band buckets and last-token blocks generate candidates;
  * MinHash signatures are computed entirely JVM-side (shingles via
    sequence/transform, per-seed xxhash64 + array_min) — no Python;
  * hot buckets are frequency-capped (a stopword-ish token or a
    degenerate band would otherwise explode one reducer — the same hub
    problem pdfmef's `cites` edges have);
  * only the final pair scoring (token/initialism logic) is Python:
    one mapInPandas pass over Arrow batches of the (small) distinct
    candidate-pair set, scoring each pair once.

This module holds the one LSH blocking kernel: the capped in-bucket
pair expansion (:func:`_expand_pairs`) and the delta-candidate function
with cap-crossing detection (:func:`delta_bucket_pairs`). Near-duplicate
detection (operators/dedup.py) calls the same kernel for its
incremental paths.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from pdfmef_spark import schemas
from pdfmef_spark.functions import char_shingles, normalize_surface
from pdfmef_spark.functions.zipimports import install_stable_zip_importers

N_HASHES = 64
N_BANDS = 16  # 16 bands x 4 rows
ROWS_PER_BAND = N_HASHES // N_BANDS
BUCKET_CAP = 64      # skip LSH buckets larger than this (hot-band guard)
TOKEN_BLOCK_CAP = 256  # skip last-token blocks larger than this


def surface_keys(mentions: DataFrame) -> DataFrame:
    """Distinct (type, surface) with mention counts and normalized key."""
    return (
        mentions.groupBy("type", "surface")
        .agg(F.count("*").alias("freq"))
        .withColumn("norm", normalize_surface(F.col("surface")))
        .filter(F.length("norm") > 0)
    )


def minhash_signatures(norms: DataFrame) -> DataFrame:
    """(type, norm, h0..h63) MinHash signatures, whole-stage-codegen —
    bit-identical to ``dedup.minhash_signature(char_shingles(norm),
    N_HASHES)``, with no interpreted higher-order functions in the
    per-row hot path.

    Shape: explode each (type, norm) into its 3-char shingles, compute
    the 64 seeded ``xxhash64(shingle, seed)`` columns INLINE in the
    projection (plain codegen expressions — the same hash values
    ``dedup.minhash_signature`` computes), then 64 algebraic ``min``
    aggregates per (type, norm). Exactly one exchange (the
    vocabulary-sized groupBy), and map-side partial min aggregation
    absorbs the ~avg_len-per-norm exploded rows before the shuffle —
    the shape that survives a 10^12-doc vocabulary.

    Measured (120k-surface stress vocabulary, local[32]): the whole
    candidate-generation stage dropped 44.8 s -> ~13 s vs the
    interpreted-lambda path; a broadcast distinct-shingle-table variant
    was also tried and REVERTED — its extra distinct + broadcast + join
    exchanges cost ~3 s of fixed overhead at small vocabularies while
    saving only duplicate-shingle re-hashing (xxhash64 in codegen is
    ~ns; the dedup isn't worth one extra exchange).
    """
    sh = norms.select(
        "type", "norm", F.explode(char_shingles(F.col("norm"))).alias("s")
    )
    # SQL strings: one parse on the JVM instead of ~200 Column objects
    # built one py4j call at a time; the analyzed plan is the same
    hashed = sh.selectExpr(
        "type", "norm", *[f"xxhash64(s, {i}) AS h{i}" for i in range(N_HASHES)]
    )
    return hashed.groupBy("type", "norm").agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(N_HASHES)]
    )


def _block_cap():
    """Per-row member cap of a (type, bkey) bucket: BUCKET_CAP for LSH
    band buckets ("b:"), TOKEN_BLOCK_CAP for token / prefix blocks
    ("t:"/"p:"). Built at call time, so a patched module cap applies."""
    return F.when(
        F.col("bkey").startswith("b:"), F.lit(BUCKET_CAP)
    ).otherwise(F.lit(TOKEN_BLOCK_CAP))


def _expand_pairs(member: str | None = None):
    """explode() of every pair of a bucket's sorted ``members`` array
    into a struct column ``p`` with fields (a, b), a before b.

    The expansion (transform x slice) is bucket-local and JVM-side, so
    the quadratic pair space never leaves its bucket. Members are plain
    values on the full path. On the delta path they are
    ``struct(<member>, is_new)`` with ``member`` naming the value field,
    and each pair also carries ``keep`` = either side is new.
    """
    def pair(x, y):
        if member is None:
            return F.struct(x.alias("a"), y.alias("b"))
        return F.struct(
            x[member].alias("a"),
            y[member].alias("b"),
            (x["is_new"] | y["is_new"]).alias("keep"),
        )

    return F.explode(
        F.flatten(
            F.transform(
                F.col("members"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("members"),
                        i + 2,
                        F.greatest(F.size("members") - i - 1, F.lit(0)),
                    ),
                    lambda y: pair(x, y),
                ),
            )
        )
    ).alias("p")


def _bucket_pairs_capped(keyed: DataFrame, cap_obs=None) -> DataFrame:
    """Generate (type, a, b) pairs across ALL blocking families with ONE
    shuffle: groupBy (type, bkey) -> sorted member list (capped) ->
    JVM-side pair expansion (transform x slice) -> explode.

    Pair expansion happens bucket-locally inside codegen and hot buckets
    are dropped by the cap before any pair materializes — the shape that
    survives 10^12-row inputs. The member cap depends on the bkey family
    prefix: LSH band buckets ("b:") cap at BUCKET_CAP, token / prefix
    blocks ("t:"/"p:") at TOKEN_BLOCK_CAP.

    `cap_obs` (a pyspark Observation) rides the same job and records how
    much the caps actually dropped — buckets_dropped / members_dropped —
    at zero extra passes. At test scale the caps drop nothing (oracles
    prove recall); at 100 TB hot buckets WILL be dropped, and recall
    loss must be a measured number in the run manifest, not an
    assumption (the reference hits the same hub problem silently on its
    `cites` edges, parscit.py:19-44).

    The cap is applied BEFORE member collection (round 4): a window
    count over (type, bkey) sizes every bucket in one pass, rows of
    over-cap buckets are filtered, and only survivors reach
    collect_set. The previous shape collected the FULL member array of
    a hot bucket into one reducer task and then dropped it — a
    straggler at bench scale (a planted 83k-member block serializes one
    task) and an OOM at web scale (a 10M-member stopword block would
    materialize a 10M-element array). The window and the collect_set
    group on the same (type, bkey) key, so the whole thing is ONE
    exchange and the signature subtree upstream is computed once (a
    count-then-semi-join variant was measured and replaced: its two
    plan branches recomputed the MinHash subtree twice per action).
    """
    cap = _block_cap()
    w = W.partitionBy("type", "bkey")
    # keyed is distinct in (type, bkey, norm) — each norm tags each of
    # its block keys exactly once — so the window count == member count
    sized = keyed.withColumn("n", F.count(F.lit(1)).over(w)).withColumn(
        "rn", F.row_number().over(w.orderBy("norm"))
    )
    if cap_obs is not None:
        over = F.col("n") > cap
        sized = sized.observe(
            cap_obs,
            F.sum(F.when(over & (F.col("rn") == 1), 1).otherwise(0))
            .cast("long").alias("buckets_dropped"),
            F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("members_dropped"),
        )
    small = (
        sized.filter((F.col("n") >= 2) & (F.col("n") <= cap))
        .groupBy("type", "bkey")
        .agg(F.array_sort(F.collect_set("norm")).alias("members"))
    )
    pairs = small.select(F.col("type"), _expand_pairs())
    return pairs.select("type", F.col("p.a").alias("a"), F.col("p.b").alias("b"))


def candidate_pairs(keys: DataFrame, cap_obs=None) -> DataFrame:
    """(type, a, b) candidate pairs, a < b, from LSH bands + last-token
    blocks + two-token-prefix blocks.

    All three blocking families are tagged into ONE keyed relation
    (type, bkey, norm) — "b:<band>:<hash>", "t:<token>", "p:<prefix>" —
    so candidate generation costs the norms distinct, the signature
    min-aggregate (see minhash_signatures), the (type, bkey) groupBy,
    and the final pair distinct. Per-family caps ride on the bkey
    prefix. Signatures come from the codegen shingle-hash-join path
    (minhash_signatures).
    """
    keyed = tag_block_keys(keys.select("type", "norm").distinct())
    pairs = _bucket_pairs_capped(keyed, cap_obs=cap_obs)
    return pairs.distinct()


def tag_block_keys(norms: DataFrame) -> DataFrame:
    """(type, norm) -> (type, norm, bkey): every block key a norm tags,
    across all three blocking families. A pure function of the norm
    string — a norm's keys never change once computed, which is what
    makes the incremental-links path (delta_candidate_pairs) sound:
    per-batch key sets are append-only and can be persisted once."""
    # signatures carry (type, norm) through the aggregate — no join-back
    signed = minhash_signatures(norms)
    # band b: "b:<b>:<xxhash64 of its ROWS_PER_BAND signature values>"
    bands = [
        ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        for b in range(N_BANDS)
    ]
    band_keys = ", ".join(
        f"concat_ws(':', 'b', {b}, xxhash64({hs}))" for b, hs in enumerate(bands)
    )
    # last-token block: catches initialisms ("a turing" ~ "alan turing")
    # whose shingle overlap is too low for the LSH bands.
    tok_keys = (
        "CASE WHEN length(substring_index(norm, ' ', -1)) > 1"
        " THEN array(concat('t:', substring_index(norm, ' ', -1)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    # two-token-prefix block: catches truncation aliases
    # ("orbital logic" ~ "orbital logic systems") whose shingle Jaccard
    # (~0.5-0.65) is below the r=4 LSH collision knee.
    pre_keys = (
        "CASE WHEN size(split(norm, ' ')) >= 2"
        " THEN array(concat('p:', substring_index(norm, ' ', 2)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    return signed.selectExpr(
        "type", "norm",
        f"explode(concat(array({band_keys}), {tok_keys}, {pre_keys})) AS bkey",
    )


def delta_candidate_pairs(keyed_all: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Incremental candidate generation over an accumulated key table.

    ``keyed_all``: (type, norm, bkey, is_new) — the union of every
    batch's ``tag_block_keys`` output, with ``is_new`` marking norms
    first seen THIS tick. Only buckets touched by a new norm are
    expanded, and only pairs with >= 1 new member are emitted: pairs
    among old members were candidates on an earlier tick (a norm's
    bkeys never change), so the caller's accumulated links table
    already holds their scored survivors. Per-tick cost is
    O(delta x bucket density + one column-pruned scan of the key
    table) instead of re-running shingle -> 64-hash MinHash signatures
    over the whole vocabulary.

    Returns (pairs, crossed). ``crossed`` is non-empty iff a touched
    bucket CROSSED its cap this tick with >= 2 pre-existing members —
    the one case where full recompute semantics (the bucket's old pairs
    vanish with the bucket) cannot be reproduced from the accumulated
    links table, so the caller must fall back to a full rebuild for
    this tick. Buckets already over cap stay skipped (matching the
    full path, which drops them), so a perpetually hot block does not
    force a rebuild every tick — only its crossing tick does.
    """
    return delta_bucket_pairs(
        keyed_all, ["type", "bkey"], "norm", _block_cap(), carry=("type",)
    )


def delta_bucket_pairs(
    keyed_all: DataFrame, key_cols: list[str], member: str, cap,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Delta candidate pairs over an accumulated (*key_cols, member,
    is_new) key table — the one incremental blocking kernel, shared by
    :func:`delta_candidate_pairs` and the dedup delta operators.

    Only buckets touched by a new member are expanded, and only pairs
    with >= 1 new member are emitted. ``cap`` is an int or a per-row
    Column; buckets over it are skipped, as on the full paths.
    ``carry`` names key columns kept on each pair.

    Returns (pairs(*carry, a, b), crossed(*key_cols, n, n_new)).
    ``crossed`` has one row per member of every touched bucket that
    crossed its cap with >= 2 pre-existing members; when it is
    non-empty the caller must rebuild in full.
    """
    touched = keyed_all.filter(F.col("is_new")).select(*key_cols).distinct()
    members = keyed_all.join(touched, key_cols)
    w = W.partitionBy(*key_cols)
    sized = members.withColumn("n", F.count(F.lit(1)).over(w)).withColumn(
        "n_new", F.sum(F.col("is_new").cast("int")).over(w)
    )
    crossed = sized.filter(
        (F.col("n") > cap)
        & (F.col("n") - F.col("n_new") >= 2)
        & (F.col("n") - F.col("n_new") <= cap)
    ).select(*key_cols, "n", "n_new")
    small = (
        sized.filter((F.col("n") >= 2) & (F.col("n") <= cap))
        .groupBy(*key_cols)
        # struct sort orders by the member (first field) — same member
        # order as the full path's array_sort(collect_set(member))
        .agg(F.array_sort(F.collect_set(F.struct(member, "is_new"))).alias("members"))
    )
    pairs = small.select(*carry, _expand_pairs(member))
    return (
        pairs.filter(F.col("p.keep"))
        .select(*carry, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct(),
        crossed,
    )


def _token_score(a: str, b: str) -> float:
    """Order-insensitive token alignment with initial matching."""
    ta, tb = a.split(), b.split()
    if not ta or not tb:
        return 0.0
    short, long_ = (ta, tb) if len(ta) <= len(tb) else (tb, ta)
    total = 0.0
    used: set[int] = set()
    for s in short:
        best, best_j = 0.0, -1
        for j, l in enumerate(long_):
            if j in used:
                continue
            if s == l:
                sc = 1.0
            elif len(s) == 1 and l.startswith(s):
                sc = 0.9
            elif len(l) == 1 and s.startswith(l):
                sc = 0.9
            elif len(s) >= 3 and len(l) >= 3 and (s.startswith(l) or l.startswith(s)):
                sc = 0.7
            else:
                sc = 0.0
            if sc > best:
                best, best_j = sc, j
        if best_j >= 0:
            used.add(best_j)
        total += best
    # penalize unmatched length difference mildly
    return total / (len(short) + 0.35 * (len(long_) - len(short)))


def _char_jaccard(a: str, b: str, k: int = 3) -> float:
    pa = f" {a} "
    pb = f" {b} "
    sa = {pa[i : i + k] for i in range(max(1, len(pa) - k + 1))}
    sb = {pb[i : i + k] for i in range(max(1, len(pb) - k + 1))}
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def pair_score(a: str, b: str) -> float:
    """Similarity in [0, 1] of two normalized surfaces: a blend of
    token alignment and character-trigram Jaccard."""
    tok = _token_score(a, b)
    blend = 0.6 * tok + 0.4 * _char_jaccard(a, b)
    # initialism pairs ("b eich" ~ "brendan eich") have near-perfect
    # token alignment but poor shingle overlap — let a strong token
    # score carry the decision on its own.
    return max(blend, 0.8 * tok)


def score_pairs(pairs: DataFrame, threshold: float = 0.70) -> DataFrame:
    """LINKS(type, src, dst, score): (type, a, b) pairs scored with
    :func:`pair_score` and kept when score >= threshold.

    Scoring and the threshold run in ONE mapInPandas pass over Arrow
    batches, so each pair is scored exactly once. A pandas UDF column
    plus a ``score >= threshold`` filter scores twice: the optimizer
    pushes the filter, UDF call included, below ``candidate_pairs``'
    ``distinct()``, so one Python evaluation scores every pre-distinct
    pair and a second one scores the survivors.

    Measured decision (round 4): a JVM-side pre-filter — exact shingle
    Jaccard via array_intersect/array_union plus a sound upper bound on
    the token score via transform/aggregate — was built, proved lossless,
    and REVERTED: Spark higher-order functions are CodegenFallback
    (interpreted, per-element object allocation), and on a 1.24M-pair
    candidate set the "pre-filtered" path took 11.8 s where this plain
    Arrow scorer takes 2.28 s (~1.8 us/pair). The scorer is not the
    linking bottleneck at any measured scale; candidate *generation* is
    (see candidate_pairs), and pruning effort belongs there.
    """
    def score_batches(batches):
        install_stable_zip_importers()
        for pdf in batches:
            score = pd.Series(
                [pair_score(a, b) for a, b in zip(pdf["a"], pdf["b"])],
                index=pdf.index, dtype="float64",
            )
            keep = score >= threshold
            yield pd.DataFrame({
                "type": pdf["type"][keep],
                "src": pdf["a"][keep],
                "dst": pdf["b"][keep],
                "score": score[keep],
            })

    return pairs.select("type", "a", "b").mapInPandas(score_batches, schemas.LINKS)


def link_entities(
    mentions: DataFrame | None = None, threshold: float = 0.70, cap_obs=None,
    keys: DataFrame | None = None,
) -> DataFrame:
    """mentions -> LINKS over normalized surface keys (per type).

    Pass ``keys`` when the caller already holds (and persisted) the
    surface vocabulary: computing it is a full shuffle over the
    mentions table, and the pipeline needs the same vocabulary again
    for component assignment and graph materialization — recomputing
    it inside the links stage would pay that shuffle twice per run.
    (The incremental pipeline passes keys ONLY — its vocabulary is the
    sum of per-batch deltas, never a historical-mentions scan.)
    """
    if keys is None:
        if mentions is None:
            raise ValueError("link_entities needs mentions or keys")
        keys = surface_keys(mentions)
    return score_pairs(candidate_pairs(keys, cap_obs=cap_obs), threshold)
