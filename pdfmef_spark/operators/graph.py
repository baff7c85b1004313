"""Graph materialization: mentions + triples + components -> nodes / edges.

The final stage of the north_rule pipeline. Output mirrors the
reference's merged per-document XML (bin/buildXML.pl:34-66) re-shaped as
two partitioned tables:

    nodes(entity_id, canonical, type, n_mentions)
    edges(src, dst, pred, weight)

entity_id is xxhash64 over (type, component) — stable across runs and
cluster sizes. Canonical surface = most frequent mention in the cluster
(ties: longest, then lexicographic) — a deterministic max_by.

Skew note (the `cites` hub problem, reference analog: hub papers in
parscit citations): the subj/obj -> entity_id joins broadcast the
entity map when it is small; at 10^12-doc scale the map itself is big,
so the joins flip to shuffle joins where AQE skew-splitting +
`functions.salted_join_small_skewed` handle hub entities. Edge-weight
aggregation is algebraic (count) so map-side partial aggregation
already absorbs hub fan-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def entity_nodes(keys: DataFrame, assignments: DataFrame) -> DataFrame:
    """keys(type, surface, freq, norm) + assignments(type, norm, component)
    -> NODES + the surface->entity_id map."""
    surf = keys.join(assignments, ["type", "norm"])
    surf = surf.withColumn("entity_id", F.xxhash64("type", "component"))
    nodes = (
        surf.groupBy("entity_id", "type")
        .agg(
            F.max_by(
                "surface", F.struct(F.col("freq"), F.length("surface"), F.col("surface"))
            ).alias("canonical"),
            F.sum("freq").alias("n_mentions"),
        )
        .select("entity_id", "canonical", "type", "n_mentions")
    )
    surface_map = surf.select("type", "surface", "entity_id")
    return nodes, surface_map


def doc_nodes(triples: DataFrame) -> DataFrame:
    """DOC entities: one node per url participating in any triple."""
    urls = (
        triples.select(F.col("url").alias("u"))
        .union(triples.filter(F.col("obj_type") == "DOC").select(F.col("obj").alias("u")))
        .distinct()
    )
    return urls.select(
        F.xxhash64(F.lit("DOC"), F.col("u")).alias("entity_id"),
        F.col("u").alias("canonical"),
        F.lit("DOC").alias("type"),
        F.lit(0).cast("long").alias("n_mentions"),
    )


def _resolve_edges(triples: DataFrame, smap) -> DataFrame:
    """Entity-resolved triples -> edges(src, dst, pred, weight); a row
    whose either slot does not resolve is dropped.

    hasTitle/hasAbstract/hasFigure/affiliationString are document
    attributes, not graph relations — those strings are not entity
    mentions (mirrors the reference, where title/abstract/figure
    captions live in header/figure XML, tei.py:31-35 + 81-92 and
    figures2.py:39-52, not in the citation graph).
    """
    t = triples.filter(
        ~F.col("pred").isin(
            "hasTitle", "hasAbstract", "hasFigure", "affiliationString"
        )
    )

    # subject side: DOC subjects hash directly; entity subjects via map
    subj_map = smap.select(
        F.col("type").alias("subj_type"),
        F.col("surface").alias("subj"),
        F.col("entity_id").alias("src_id"),
    )
    t = t.join(subj_map, ["subj_type", "subj"], "left").withColumn(
        "src",
        F.when(F.col("subj_type") == "DOC", F.xxhash64(F.lit("DOC"), F.col("subj"))).otherwise(
            F.col("src_id")
        ),
    )
    obj_map = smap.select(
        F.col("type").alias("obj_type"),
        F.col("surface").alias("obj"),
        F.col("entity_id").alias("dst_id"),
    )
    t = t.join(obj_map, ["obj_type", "obj"], "left").withColumn(
        "dst",
        F.when(F.col("obj_type") == "DOC", F.xxhash64(F.lit("DOC"), F.col("obj"))).otherwise(
            F.col("dst_id")
        ),
    )
    return (
        t.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst", "pred")
        .agg(F.count("*").alias("weight"))
    )


def materialize_graph(
    triples: DataFrame, keys: DataFrame, assignments: DataFrame, broadcast_map: bool = True
) -> tuple[DataFrame, DataFrame]:
    """-> (nodes, edges). Entity resolution applied to both triple slots."""
    ent_nodes, surface_map = entity_nodes(keys, assignments)
    d_nodes = doc_nodes(triples)
    nodes = ent_nodes.unionByName(d_nodes)
    smap = F.broadcast(surface_map) if broadcast_map else surface_map
    return nodes, _resolve_edges(triples, smap)
