"""Vector-record materialization + hybrid search — the reference's vector
store write path and query surface re-expressed set-oriented (SURVEY.md
§2.1 S15-S17, §2.2 P11-P12, §2.3 J6, §3.2-3.3).

Reference semantics mirrored:
- multi-vector mappings: per-type {vector_id → [property names]} config
  drives one record per (object, vector_id) with text = mapped properties
  joined by ' ' (/root/reference/kgraphmemory/kgraph.py:424-442,
  default_vector_mappings.py:5-136);
- record id = uuid5(NAMESPACE_URL, f"{uri}#{vector_id}") (kgraph.py:82-88)
  — exact parity via the uuid5 pandas UDF;
- embedding via the pluggable model, batched (`vectorize(list)`,
  kgraph_vector_db.py:123-170) — here the deterministic hash embedder
  (functions/vector.embed_text_udf), one Arrow batch per call instead of
  the reference's one-model-call-per-object (kgraph.py:77-88);
- metadata payload: uri + vector_id + the mapped property values
  (kgraph_vector_db.py:106-114, keys per kgraph.py:409-419);
- hybrid search: vector candidates constrained by a graph-side predicate —
  the reference loops one SPARQL ASK per candidate (kgraph.py:322-346);
  here ONE left-semi join then top-k (no N+1).

At 10^12-doc scale the vectors table is written partitioned by vector_id
(query narrows to one partition, kgraph.py:262-265 `filters['vector_id']`)
and the kNN is a partition-pruned scan + TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ids import vector_record_id_col
from ..functions.vector import cosine_to_literal, embed_text, embed_text_udf

# Default mapping for materialized KG entities — mirrors the KGEntity entry
# of default_vector_mappings.py:5-136 (name vector + type vector + general).
ENTITY_VECTOR_MAPPINGS: dict[str, list[str]] = {
    "entity_value": ["name"],
    "entity_type": ["entity_type"],
    "general": ["name", "entity_type"],
}

# Full per-type mapping config — the whole default_vector_mappings.py
# surface (KGEntity :23-32, KGFrame :35-49, KGSlot/KGTextSlot :52-76,
# KGDocument :92-103, KGChatMessage :106-122, KGActor :125-136) keyed by
# the types this engine materializes; consumed like kgraph.py:424-442
# (per-type lookup → one record per (object, vector_id)).
DEFAULT_VECTOR_MAPPINGS: dict[str, dict[str, list[str]]] = {
    # KGEntity (Token/Phrase are this engine's two entity classes)
    "urn:kg:Token": ENTITY_VECTOR_MAPPINGS,
    "urn:kg:Phrase": ENTITY_VECTOR_MAPPINGS,
    # KGFrame: type vector + general (no description column materialized)
    "urn:frame:next": {
        "type": ["frame_type"],
        "general": ["frame_type"],
    },
    # KGSlot family: slot_type vector + slot_value for value-bearing slots
    "urn:kg:Slot": {
        "slot_type": ["slot_type"],
        "slot_value": ["entity_value"],
    },
    # KGDocument
    "urn:kg:Document": {
        "general": ["text"],
    },
    # KGChatMessage family (operators/chat.py messages table)
    "urn:kg:KGChatMessage": {
        "content": ["content"],
        "general": ["message_type", "content"],
    },
    # KGActor
    "urn:kg:Actor": {
        "general": ["name"],
    },
}


def mappings_for_type(type_uri: str) -> dict[str, list[str]]:
    """Per-type lookup with the reference's fall-through to a plain
    name-based general vector (kgraph.py:436-441 default branch)."""
    return DEFAULT_VECTOR_MAPPINGS.get(type_uri, {"general": ["name"]})


def build_typed_vector_records(
        typed: list[tuple[DataFrame, str, str]]) -> DataFrame:
    """[(objects_df, type_uri, uri_col), ...] → one unioned vectors table,
    each type embedded under its own DEFAULT_VECTOR_MAPPINGS entry —
    the multi-type write path of kgraph.py:424-442."""
    parts = [
        build_vector_records(df, uri_col=uri_col,
                             mappings=mappings_for_type(type_uri))
        .withColumn("object_type", F.lit(type_uri))
        for df, type_uri, uri_col in typed
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ranked_search(vectors: DataFrame, query_text: str, partition_col: str,
                  limit_per_partition: int = 10) -> DataFrame:
    """Score every record against ``query_text`` in ONE scan, rank
    within each ``partition_col`` group, keep the top
    ``limit_per_partition`` — the shared shape behind per-object-type
    search (``search_all_types``) and cross-graph search
    (``memory.search_across_graphs``)."""
    qvec = embed_text(query_text)
    from pyspark.sql import Window
    scored = vectors.select(
        partition_col, "record_id", "uri", "vector_id",
        F.round(cosine_to_literal(
            F.col("vector").cast("array<double>"), qvec), 6).alias("score"))
    w = Window.partitionBy(partition_col).orderBy(
        F.desc("score"), F.asc("record_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= limit_per_partition).drop("rank"))


def search_all_types(vectors: DataFrame, query_text: str,
                     limit_per_type: int = 10) -> DataFrame:
    """``search_all`` (kgraph_bridge.py:139-150) over a typed vectors
    table (``build_typed_vector_records`` output): the reference runs one
    sequential search per object family and returns a dict of lists; here
    ONE scored scan ranks every record and a window keeps the top
    ``limit_per_type`` per ``object_type`` — same per-family limit, one
    distributed pass."""
    return ranked_search(vectors, query_text, "object_type",
                         limit_per_type)


def build_vector_records(objects: DataFrame, uri_col: str = "entity_id",
                         mappings: dict[str, list[str]] | None = None,
                         embed_udf=None) -> DataFrame:
    """objects (wide rows) → vectors(record_id, uri, vector_id, text,
    vector, metadata).

    One `explode` of the mapping config per row (the config is a plan-time
    constant — no join), then ONE batched embedding UDF pass.

    ``embed_udf`` swaps the embedding model (default: the deterministic
    hash embedder): any pandas UDF from text to ``array<float>`` — the
    reference's pluggable EmbeddingModel seam (kgraph_vector_db.py:18-49).
    """
    embed_udf = embed_udf if embed_udf is not None else embed_text_udf
    mappings = mappings or ENTITY_VECTOR_MAPPINGS
    # Mapped properties the object type doesn't carry are skipped, and a
    # vector whose every mapped property is absent emits no record —
    # kgraph.py:427-434 collects only present props and :77-78 drops
    # empty vector_text before add_text.  If nothing survives, fall back
    # to the plain name-based general vector (mappings_for_type posture).
    present = set(objects.columns)
    mappings = {vid: [p for p in props if p in present]
                for vid, props in mappings.items()}
    mappings = {vid: props for vid, props in mappings.items() if props}
    if not mappings:
        if "name" not in present:
            raise ValueError(
                f"no mapped vector property exists on the objects table "
                f"(columns: {sorted(present)})")
        mappings = {"general": ["name"]}
    uri = F.col(uri_col).cast("string")
    variants = F.array(*[
        F.struct(
            F.lit(vid).alias("vector_id"),
            F.concat_ws(" ", *[F.col(p) for p in props]).alias("text"),
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in props]),
                F.array(*[F.col(p).cast("string") for p in props]),
            ).alias("mapped"),
        )
        for vid, props in sorted(mappings.items())
    ])
    exploded = objects.select(
        uri.alias("uri"), F.explode(variants).alias("v")
    ).select(
        "uri",
        F.col("v.vector_id").alias("vector_id"),
        F.col("v.text").alias("text"),
        F.map_concat(
            F.create_map(F.lit("uri"), F.col("uri"),
                         F.lit("vector_id"), F.col("v.vector_id")),
            F.col("v.mapped"),
        ).alias("metadata"),
    )
    # empty vector_text emits no record (kgraph.py:77-78 `if vector_text`)
    return exploded.where(F.length("text") > 0).select(
        vector_record_id_col(F.col("uri"), F.col("vector_id")).alias("record_id"),
        "uri", "vector_id", "text",
        embed_udf(F.col("text")).alias("vector"),
        "metadata",
    )


def knn(vectors: DataFrame, query_text: str | None = None, k: int = 10,
        vector_id: str | None = None,
        metadata_filters: dict | None = None,
        score_threshold: float | None = None,
        query_vector: list[float] | None = None) -> DataFrame:
    """`search_by_text` (kgraph_vector_db.py:172-229): embed the query on
    the driver, scan distributed.  Filters mirror `_build_filter`
    (kgraph_vector_db.py:231-263): exact match / `in` list / range dicts
    with gte/lte/gt/lt keys — all pushed below the similarity projection.
    ``query_vector`` skips the embedding step — the reference's
    ``vector_search_by_vector`` (kgraph.py:274-294)."""
    out = vectors
    if vector_id is not None:
        out = out.where(F.col("vector_id") == vector_id)
    for key, cond in (metadata_filters or {}).items():
        col = F.col("metadata")[key]
        if isinstance(cond, dict):
            unknown = set(cond) - {"gte", "lte", "gt", "lt", "in"}
            if unknown:
                # the reference's _build_filter knows exactly these keys;
                # silently skipping one would return unfiltered results
                raise ValueError(
                    f"unsupported filter condition keys {sorted(unknown)} "
                    f"for metadata field '{key}'")
            # numeric comparison like Qdrant Range (kgraph_vector_db.py:
            # 231-263) — lexicographic string compare would say '10' < '9';
            # try_cast keeps non-numeric payload values from failing ANSI
            num = col.try_cast("double")
            if "gte" in cond:
                out = out.where(num >= float(cond["gte"]))
            if "lte" in cond:
                out = out.where(num <= float(cond["lte"]))
            if "gt" in cond:
                out = out.where(num > float(cond["gt"]))
            if "lt" in cond:
                out = out.where(num < float(cond["lt"]))
            if "in" in cond:
                out = out.where(col.isin(*[str(c) for c in cond["in"]]))
        elif isinstance(cond, (list, tuple, set)):
            out = out.where(col.isin(*[str(c) for c in cond]))
        else:
            out = out.where(col == str(cond))
    if query_vector is not None:
        qvec = [float(x) for x in query_vector]
    elif query_text is not None:
        qvec = embed_text(query_text)
    else:
        raise ValueError("knn needs query_text or query_vector")
    out = out.select(
        "record_id", "uri", "vector_id",
        F.round(cosine_to_literal(F.col("vector").cast("array<double>"), qvec), 6)
        .alias("score"),
    )
    if score_threshold is not None:
        out = out.where(F.col("score") >= score_threshold)
    return out.orderBy(F.desc("score"), F.asc("record_id")).limit(k)


# ---------------------------------------------------------------------------
# S17: vector point CRUD (kgraph_vector_db.py:265-359) — the store.py
# upsert/delete shape instantiated on the points table.  On a cluster these
# parameterize MERGE INTO / DELETE WHERE on the snapshot catalog.
# ---------------------------------------------------------------------------

def upsert_points(points: DataFrame, incoming: DataFrame,
                  id_col: str = "record_id") -> DataFrame:
    """Replace-or-insert by point id (`upsert` kgraph_vector_db.py:265-295):
    anti-join out the incoming ids, union the incoming rows — one shuffle,
    set-oriented (no per-point loop)."""
    ids = incoming.select(id_col).distinct()
    return (
        points.join(F.broadcast(ids), id_col, "left_anti")
        .unionByName(incoming)
    )


def delete_points(points: DataFrame, ids: list | None = None,
                  where: Column | None = None,
                  id_col: str = "record_id") -> DataFrame:
    """Delete by id list or predicate (kgraph_vector_db.py:297-320)."""
    out = points
    if ids is not None:
        out = out.where(~F.col(id_col).isin(*list(ids)))
    if where is not None:
        # null-safe: rows where the predicate is NULL do not match → kept
        out = out.where(~F.coalesce(where, F.lit(False)))
    return out


def get_points(points: DataFrame, ids: list,
               id_col: str = "record_id") -> DataFrame:
    """get_by_id batch form (kgraph_vector_db.py:322-340) — one semi join,
    not a per-id probe loop."""
    return points.where(F.col(id_col).isin(*list(ids)))


def count_points(points: DataFrame,
                 vector_id: str | None = None) -> DataFrame:
    """Point count, optionally per logical vector space
    (kgraph_vector_db.py:341-359)."""
    out = points
    if vector_id is not None:
        out = out.where(F.col("vector_id") == vector_id)
    return out.agg(F.count(F.lit(1)).alias("n_points"))


BROADCAST_MAX_CANDIDATE_ROWS = 5_000_000


def hybrid_search(vectors: DataFrame, graph_candidates: DataFrame,
                  query_text: str, k: int = 10,
                  vector_id: str | None = None,
                  uri_col: str = "entity_id",
                  broadcast_max_rows: int = BROADCAST_MAX_CANDIDATE_ROWS,
                  _strategy: dict | None = None) -> DataFrame:
    """Hybrid search (kgraph.py:296-346) with the ASK-per-candidate loop
    replaced by one left-semi join: `graph_candidates` is any DataFrame of
    URIs satisfying the graph-side predicate (the materialized form of the
    SPARQL filter); fetch-2k-then-filter (kgraph.py:315) is unnecessary —
    the semi join runs below the top-k.

    The broadcast of the candidate set is GATED on its cardinality
    (same discipline as the pipeline's alias-table broadcast ceiling,
    ``linking.BROADCAST_MAX_ALIAS_ROWS`` — r3 VERDICT item):
    a selective graph filter yields a few thousand URIs and the hint is
    free, but a permissive SPARQL filter at 100× corpus scale can return
    a candidate set that would OOM the driver if broadcast
    unconditionally.  Past the cutover the hint is dropped and the plan
    is a plain shuffled left-semi join — AQE still converts it back to a
    broadcast join at runtime whenever the actual size is small.  The
    count probe runs on the deduped single-column projection (cheap; on
    iterative callers pass a cached candidate frame).  ``_strategy``, if
    given, records the decision for tests."""
    cand = graph_candidates.select(F.col(uri_col).cast("string").alias("uri")).distinct()
    n_cand = cand.count()
    if n_cand <= broadcast_max_rows:
        cand = F.broadcast(cand)
        if _strategy is not None:
            _strategy["candidates"] = "broadcast"
    elif _strategy is not None:
        _strategy["candidates"] = "shuffle"
    if _strategy is not None:
        _strategy["n_candidates"] = n_cand
    out = vectors.join(cand, "uri", "left_semi")
    if vector_id is not None:
        out = out.where(F.col("vector_id") == vector_id)
    qvec = embed_text(query_text)
    # ties broken by (uri, vector_id) — the reference sorts by score only
    # (store-order ties); a content-keyed tiebreak keeps the result total
    # and lets SQL oracles reproduce it without uuid5
    return (
        out.select(
            "record_id", "uri", "vector_id",
            F.round(cosine_to_literal(F.col("vector").cast("array<double>"), qvec), 6)
            .alias("score"))
        .orderBy(F.desc("score"), F.asc("uri"), F.asc("vector_id")).limit(k)
    )
