"""Stage 5: materialize kgraphmemory's typed-graph structures as tables.

Mirrors the reference data model (SURVEY.md §1.1):
- entities  — KGEntity nodes (kgraph_entity_bridge.py:49-75)
- relations — binary relations between canonical entities
- frames/slots — the WordNet relationship-frame encoding: one KGFrame per
  relation + source/destination KGEntitySlot rows
  (kgraph_frame_bridge.py:451-472, wordnet_batch_load_test.py:203-234)
- triples   — long-format quad store content; each object emits rdf:type +
  vitaltype + property triples (kgraph_rdf_db.py:576-593)
- provenance — per-url lineage (Edge_hasKGDocument analog,
  kgraph_document_bridge.py:165-176, plus north-rule url/count lineage)

All aggs here are partial+final hash aggregates (map-side combine free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import frame_uri_col, slot_uri_col
from ..semantics import (
    EDGE_DESTINATION,
    EDGE_SOURCE,
    FRAME_TYPE_NEXT,
    HAS_NAME,
    RDF_TYPE,
    SLOT_DESTINATION,
    SLOT_SOURCE,
    TYPE_PHRASE,
    TYPE_TOKEN,
    VITAL_TYPE,
)
from .extraction import docagg_rows

DEFAULT_GRAPH = "urn:graph:web"


def build_entities(linked_canonical: DataFrame) -> DataFrame:
    """linked mentions (with canonical_id) → entities(entity_id, name,
    entity_type, mention_count); name = min surface in the component."""
    return (
        linked_canonical.groupBy("canonical_id")
        .agg(
            F.min("surface").alias("name"),
            F.max(F.when(F.col("kind") == "bigram", 1).otherwise(0)).alias("_big"),
            F.count(F.lit(1)).alias("mention_count"),
        )
        .select(
            F.col("canonical_id").alias("entity_id"),
            "name",
            F.when(F.col("_big") == 1, F.lit(TYPE_PHRASE))
            .otherwise(F.lit(TYPE_TOKEN))
            .alias("entity_type"),
            "mention_count",
        )
    )


def build_entities_preagg(mentions: DataFrame, ranked_alias: DataFrame,
                          canonical: DataFrame,
                          broadcast_alias: bool = True) -> DataFrame:
    """Same result as ``build_entities(linked_canonical)`` — asserted in
    tests/test_linking.py — but the per-occurrence mention stream is
    aggregated down to (surface, kind) BEFORE any join: mention_count,
    min-surface and has-bigram are all decomposable over surface groups,
    and entity_id / canonical_id are functions of (surface, kind).  One
    partial+final hash agg over the token stream (vocabulary-sized
    output), then vocabulary-sized joins and a final tiny agg — the join
    probes run per distinct surface instead of per mention occurrence
    (10^12 rows at web scale).  ``broadcast_alias=False`` (the pipeline
    passes it when the discovered alias table exceeds the broadcast
    ceiling, linking.BROADCAST_MAX_ALIAS_ROWS) leaves the alias/canonical
    joins to AQE — still vocab-by-vocab shuffles, never per-occurrence."""
    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_alias else df

    per_surface = mentions.groupBy("surface", "kind").agg(
        F.count(F.lit(1)).alias("cnt"))
    j = (
        per_surface
        .join(_side(ranked_alias.select("surface", "kind", "entity_id")),
              ["surface", "kind"])
        .join(_side(canonical.select("entity_id", "canonical_id")),
              "entity_id")
    )
    return (
        j.groupBy("canonical_id")
        .agg(
            F.min("surface").alias("name"),
            F.max(F.when(F.col("kind") == "bigram", 1).otherwise(0)).alias("_big"),
            F.sum("cnt").alias("mention_count"),
        )
        .select(
            F.col("canonical_id").alias("entity_id"),
            "name",
            F.when(F.col("_big") == 1, F.lit(TYPE_PHRASE))
            .otherwise(F.lit(TYPE_TOKEN))
            .alias("entity_type"),
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


def build_entities_docagg(docagg: DataFrame) -> DataFrame:
    """Finish the entity build from the per-batch partial ``entities``
    rows of ``extraction.extract_docagg``: one vocabulary-sized hash agg
    (decomposable min/max/sum), identical rows to
    ``build_entities_preagg`` — asserted in tests/test_pipeline_fastpath.py."""
    return (
        docagg_rows(docagg, "entities").groupBy("canonical_id")
        .agg(
            F.min("name").alias("name"),
            F.max("big").alias("_big"),
            F.sum("cnt").alias("mention_count"),
        )
        .select(
            F.col("canonical_id").alias("entity_id"),
            "name",
            F.when(F.col("_big") == 1, F.lit(TYPE_PHRASE))
            .otherwise(F.lit(TYPE_TOKEN))
            .alias("entity_type"),
            F.col("mention_count").cast("long").alias("mention_count"),
        )
    )


def build_relations(raw_triples: DataFrame, canonical: DataFrame,
                    broadcast_canonical: bool = True) -> DataFrame:
    """raw_triples(url,pos,subj_surface,pred,obj_surface) ⋈ canonical map
    (entity_id → canonical_id) twice → relations(subj,pred,obj,weight,ndocs).

    The canonical map is small relative to the triple stream (vocabulary vs
    corpus) → broadcast both probes; no shuffle until the final agg.
    ``broadcast_canonical=False`` when the vocabulary exceeds the broadcast
    ceiling — the probes then shuffle on the pre-aggregated (pair, url)
    rows, never per pair occurrence.
    """
    canon = canonical.select(F.col("entity_id"), F.col("canonical_id"))
    if broadcast_canonical:
        canon = F.broadcast(canon)
    sub = canon.withColumnRenamed("entity_id", "_sid").withColumnRenamed(
        "canonical_id", "subj")
    obj = canon.withColumnRenamed("entity_id", "_oid").withColumnRenamed(
        "canonical_id", "obj")
    # pre-aggregate the pair stream by (surface-pair, url) BEFORE the
    # probes: weight sums the per-group counts and ndocs still counts
    # distinct urls post-resolution, so results are identical — but the
    # broadcast probes and the wide shuffle run on distinct
    # (pair, url) rows, not per pair occurrence, and the countDistinct's
    # internal (keys, url) expansion is already done map-side here
    per_pair = (
        raw_triples
        .groupBy("subj_surface", "pred", "obj_surface", "url")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    resolved = (
        per_pair
        .withColumn("_sid", F.concat(F.lit("ent:"), F.col("subj_surface")))
        .withColumn("_oid", F.concat(F.lit("ent:"), F.col("obj_surface")))
        .join(sub, "_sid")
        .join(obj, "_oid")
    )
    return (
        resolved.groupBy("subj", "pred", "obj")
        .agg(
            F.sum("_cnt").cast("long").alias("weight"),
            F.countDistinct("url").alias("ndocs"),
        )
    )


def build_relations_docagg(docagg: DataFrame) -> DataFrame:
    """relations from the per-batch partial ``relations`` rows of
    ``extraction.extract_docagg``: the rows are already canonical and
    carry per-batch doc counts deduped per document, so weight = Σ cnt
    and ndocs = Σ ndocs — ONE aggregation whose map-side combine
    collapses each partition to its distinct canonical pairs before any
    shuffle.  Identical output to ``build_relations`` (asserted in
    tests/test_pipeline_fastpath.py); this is the scale path whenever the
    canonical vocabulary fits a broadcast dict."""
    from ..semantics import REL_NEXT
    return (
        docagg_rows(docagg, "relations").groupBy("subj", "obj")
        .agg(F.sum("cnt").cast("long").alias("weight"),
             F.sum("ndocs").cast("long").alias("ndocs"))
        .select("subj", F.lit(REL_NEXT).alias("pred"), "obj",
                "weight", "ndocs")
    )


def build_frames_slots(relations: DataFrame) -> tuple[DataFrame, DataFrame]:
    """relations → (frames, slots) in the WordNet relationship-frame shape."""
    frames = relations.select(
        frame_uri_col(F.col("subj"), F.col("pred"), F.col("obj")).alias("frame_uri"),
        F.lit(FRAME_TYPE_NEXT).alias("frame_type"),
        F.col("subj"),
        F.col("obj"),
    )
    src = frames.select(
        slot_uri_col(F.col("frame_uri"), F.lit(SLOT_SOURCE)).alias("slot_uri"),
        "frame_uri",
        F.lit(SLOT_SOURCE).alias("slot_type"),
        F.col("subj").alias("entity_value"),
    )
    dst = frames.select(
        slot_uri_col(F.col("frame_uri"), F.lit(SLOT_DESTINATION)).alias("slot_uri"),
        "frame_uri",
        F.lit(SLOT_DESTINATION).alias("slot_type"),
        F.col("obj").alias("entity_value"),
    )
    return frames, src.unionByName(dst)


def build_triples(entities: DataFrame, frames: DataFrame,
                  graph: str = DEFAULT_GRAPH) -> DataFrame:
    """Long-format triple table (quad-store content): per entity rdf:type +
    vitaltype + hasName (kgraph_rdf_db.py:576-593), per frame type +
    edge-source/destination reification."""
    g = F.lit(graph).alias("graph")
    ent = entities.select(
        F.col("entity_id").alias("subject"),
        F.explode(
            F.array(
                F.struct(F.lit(RDF_TYPE).alias("predicate"), F.col("entity_type").alias("object")),
                F.struct(F.lit(VITAL_TYPE).alias("predicate"), F.col("entity_type").alias("object")),
                F.struct(F.lit(HAS_NAME).alias("predicate"), F.col("name").alias("object")),
            )
        ).alias("po"),
    ).select("subject", F.col("po.predicate").alias("predicate"),
             F.col("po.object").alias("object"), g)
    frm = frames.select(
        F.col("frame_uri").alias("subject"),
        F.explode(
            F.array(
                F.struct(F.lit(RDF_TYPE).alias("predicate"), F.col("frame_type").alias("object")),
                F.struct(F.lit(EDGE_SOURCE).alias("predicate"), F.col("subj").alias("object")),
                F.struct(F.lit(EDGE_DESTINATION).alias("predicate"), F.col("obj").alias("object")),
            )
        ).alias("po"),
    ).select("subject", F.col("po.predicate").alias("predicate"),
             F.col("po.object").alias("object"), g)
    return ent.unionByName(frm)


def build_provenance(linked_canonical: DataFrame,
                     raw_triples: DataFrame) -> DataFrame:
    """Per-url provenance/lineage: mention + triple counts (north-rule
    per-partition lineage is derived from this keyed by url bucket)."""
    m = linked_canonical.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("canonical_id").alias("n_entities"),
    )
    t = raw_triples.groupBy("url").agg(F.count(F.lit(1)).alias("n_triples"))
    return m.join(t, "url", "left").na.fill({"n_triples": 0})
