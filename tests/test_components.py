"""Connected components vs a plain-Python union-find oracle."""

from __future__ import annotations

import random

from pdfmef_spark.operators.components import connected_components


def _union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def _check(spark, edges, driver_cutoff):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.component
        for r in connected_components(df, driver_cutoff=driver_cutoff).collect()
    }
    oracle = _union_find_oracle(edges)
    # canonical rep = min of component in both cases
    comp_of = {}
    for x, r in oracle.items():
        comp_of.setdefault(r, []).append(x)
    expected = {x: min(comp_of[r]) for x, r in oracle.items()}
    assert got == expected


import pytest  # noqa: E402

# driver_cutoff=0 forces the distributed large-star/small-star path;
# the default exercises the small-graph driver union-find fast path
CUTOFFS = [0, 10**6]


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_small_graphs(spark, cutoff):
    _check(spark, [("a", "b"), ("b", "c"), ("d", "e")], cutoff)
    _check(spark, [("a", "a1"), ("a1", "a2"), ("a2", "a3"), ("z", "a3")], cutoff)


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_random_graph_matches_union_find(spark, cutoff):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, cutoff)


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_long_chain(spark, cutoff):
    """Pathological diameter — exercises the O(log n) convergence."""
    edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(120)]
    _check(spark, edges, cutoff)


def test_both_paths_agree_on_corpus_links(spark, smoke_pages):
    """End-to-end: driver fast path == distributed path on real link data."""
    from pdfmef_spark.operators import extract, linking, triples as triples_op

    ext = extract.extract_pages(smoke_pages)
    mentions = triples_op.mentions_from_triples(triples_op.extract_triples(ext))
    links = linking.link_entities(mentions).select(
        "src", "dst"
    )
    a = sorted(map(tuple, connected_components(links, driver_cutoff=0).collect()))
    b = sorted(map(tuple, connected_components(links, driver_cutoff=10**6).collect()))
    assert a == b


# ---- property-based breadth (hypothesis) ----------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# node alphabet deliberately includes non-ASCII: the driver path picks the
# representative via Python string min (code-point order) and the
# distributed path via Spark's min (UTF-8 byte order) — identical orders
# by UTF-8's order-preserving property, pinned here so a future encoding
# change cannot silently split the contract
_NODES = st.sampled_from(
    ["a", "b", "c", "n1", "n2", "α", "β", "é", "ß", "中", "ヱ", "z9"]
)
_EDGES = st.lists(st.tuples(_NODES, _NODES), min_size=0, max_size=30)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_EDGES)
def test_driver_cc_matches_union_find_property(spark, edges):
    """Vectorized min-label propagation == plain union-find on arbitrary
    small graphs (self-loops dropped, duplicates and both orientations
    allowed, unicode node ids)."""
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    _check(spark, edges, driver_cutoff=10**6)


@pytest.mark.parametrize("cutoff", CUTOFFS)
def test_unicode_representatives_agree(spark, cutoff):
    """Both paths must elect the same (min-string) representative for
    components whose members differ only in non-ASCII characters."""
    edges = [("é", "e1"), ("e1", "ß"), ("中", "ヱ"), ("α", "β"), ("β", "b")]
    _check(spark, edges, cutoff)


def test_assign_components_delta_equals_full(spark):
    """Merge-only incremental assignment must equal a from-scratch
    assign_components over the merged keys/links — including a
    transitive old-A <- new -> old-B merge, a new-new link, a new
    singleton, and untouched old components."""
    from pdfmef_spark.operators.components import (
        assign_components, assign_components_delta,
    )

    old_keys = spark.createDataFrame(
        [("E", n) for n in ["a", "b", "c", "d", "q", "z"]],
        "type string, norm string",
    )
    old_links = spark.createDataFrame(
        [("E", "a", "b", 0.9), ("E", "c", "d", 0.8)],
        "type string, src string, dst string, score double",
    )
    new_norms = spark.createDataFrame(
        [("E", n) for n in ["m", "n", "s"]], "type string, norm string"
    )
    # m bridges the {a,b} and {c,d} components; n-m is a new-new link;
    # s stays a singleton; q/z untouched (q linked to nothing before)
    delta_links = spark.createDataFrame(
        [("E", "b", "m", 0.9), ("E", "m", "c", 0.9), ("E", "m", "n", 0.9)],
        "type string, src string, dst string, score double",
    )
    prev = assign_components(old_keys, old_links)
    got = {
        tuple(r)
        for r in assign_components_delta(prev, delta_links, new_norms).collect()
    }
    want = {
        tuple(r)
        for r in assign_components(
            old_keys.unionByName(new_norms), old_links.unionByName(delta_links)
        ).collect()
    }
    assert got == want


def test_assign_components_delta_random_merge_cases(spark):
    """Seeded random breadth for the merge-only invariant: across
    random old graphs and random delta links (each touching >= 1 new
    norm), incremental assignment must equal from-scratch. Covers
    chains of merges, repeated links, and isolated norms the crafted
    case can't enumerate."""
    import random

    from pdfmef_spark.operators.components import (
        assign_components, assign_components_delta, delta_component_remap,
    )

    universe = [f"n{i:02d}" for i in range(20)]
    for seed in range(6):
        rng = random.Random(f"delta-cc-{seed}")
        old = rng.sample(universe, 12)
        new = rng.sample([u for u in universe if u not in old], 4)
        old_links = [
            ("E", *rng.sample(old, 2), 0.9) for _ in range(rng.randint(0, 6))
        ]
        delta_links = []
        for _ in range(rng.randint(1, 6)):
            a = rng.choice(new)
            b = rng.choice(old + new)
            if a != b:
                delta_links.append(("E", a, b, 0.9))
        k = "type string, norm string"
        l = "type string, src string, dst string, score double"
        old_keys = spark.createDataFrame([("E", n) for n in old], k)
        new_keys = spark.createDataFrame([("E", n) for n in new], k)
        ol = spark.createDataFrame(old_links, l) if old_links else (
            spark.createDataFrame([], l))
        dl = spark.createDataFrame(delta_links, l)
        prev = assign_components(old_keys, ol)
        # one row per representative: the pipeline's entity-id remap
        # relies on it (one new id per old id, so no split to probe for)
        reps = [r.rep for r in delta_component_remap(prev, dl).collect()]
        assert len(reps) == len(set(reps)), f"seed {seed}: duplicate rep"
        got = {
            tuple(r)
            for r in assign_components_delta(prev, dl, new_keys).collect()
        }
        want = {
            tuple(r)
            for r in assign_components(
                old_keys.unionByName(new_keys), ol.unionByName(dl)
            ).collect()
        }
        assert got == want, f"seed {seed}: {got ^ want}"
