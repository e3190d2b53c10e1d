"""The end-to-end KG-construction pipeline (north rule).

pages → docs_clean → mentions + raw_triples → linked → canonical_map →
entities / relations / frames+slots / triples / provenance

Two execution modes:
- in-memory (``workdir=None``): one lazy DAG, used by the driver-facing
  ``queries()`` and for small inputs;
- checkpointed (``workdir=...``): every stage commits an atomic snapshot +
  per-url-bucket lineage rows via SnapshotCatalog; a rerun resumes from the
  last committed stage (tests/test_resume.py kills between stages).  A
  rerun over a finished build starts no Spark job: snapshots are read by
  their recorded schema, and the plan probe comes from the manifest.

Every transform is a pure function of committed inputs and deterministic
ids, so resume is idempotent by construction.  Every stage is
``build_graph``, which the streaming ``finalize`` calls too.  No caller
picks a plan: the ranked alias table's size picks the linking join, the
vocabulary broadcasts, the doc-aggregate fast paths and the CC path.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.snapshots import SnapshotCatalog, lineage_by_url
from .operators.cc import canonical_mapping, canonical_mapping_local
from .operators.extraction import (
    extract_docagg,
    extract_docs,
    extract_mentions,
    extract_provenance_docagg,
    extract_raw_triples,
)
from .operators.linking import (
    BROADCAST_MAX_ALIAS_ROWS,
    discovered_alias_from_docs,
    link_mentions,
    rank_candidates,
)
from .operators.materialize import (
    DEFAULT_GRAPH,
    build_entities_docagg,
    build_entities_preagg,
    build_frames_slots,
    build_provenance,
    build_relations,
    build_relations_docagg,
    build_triples,
)

# canonical-dict ceiling for the doc-aggregated fast paths (relations /
# entities / provenance): above this the map no longer belongs on the
# driver and each falls back to its pre-aggregated shuffle path.  The
# cutover is row- AND bytes-aware (same discipline as the CC driver
# cutover, operators/cc.py): entity ids are arbitrary URI strings, so a
# row cap alone could collect a multi-GB dict when ids are long — the
# alias-table probe also sums id bytes and the fast paths additionally
# require ≤ RELATIONS_DOCAGG_MAX_BYTES of raw id text (×2 for the
# canonical values; Python-object overhead on top is bounded by the
# same constant factor the CC cutover budgets for).
RELATIONS_DOCAGG_MAX_VOCAB = 1_000_000
RELATIONS_DOCAGG_MAX_BYTES = 256 << 20
from .semantics import SYNONYMS
from .session import driver_frame

# the canonicalization config (semantics.SYNONYMS) as entity-id pairs
SAME_AS_PAIRS = [("ent:" + a, "ent:" + b) for a, b in SYNONYMS]


@dataclass
class KGTables:
    docs_clean: DataFrame
    mentions: DataFrame
    raw_triples: DataFrame
    linked: DataFrame
    canonical: DataFrame
    entities: DataFrame
    relations: DataFrame
    frames: DataFrame
    slots: DataFrame
    triples: DataFrame
    provenance: DataFrame
    stages_resumed: list[str] = field(default_factory=list)

    def register_views(self, prefix: str = "kg_") -> None:
        for name in ("docs_clean", "mentions", "raw_triples", "linked",
                     "entities", "relations", "frames", "slots", "triples",
                     "provenance"):
            getattr(self, name).createOrReplaceTempView(prefix + name)


def same_as_edges(spark: SparkSession) -> DataFrame:
    """``SAME_AS_PAIRS`` as an edge DF."""
    return driver_frame(spark, SAME_AS_PAIRS, "src string, dst string")


def _stager(spark: SparkSession, cat: SnapshotCatalog | None,
            resumed: list[str]):
    """→ ``stage(name, build, lineage_extra=None, observe=())``: in memory
    (``cat`` None) build and cache all but the wide fan-out stages;
    checkpointed, resume a committed stage (named on ``resumed``) or build
    and commit it, recording the ``observe`` aggregates in its manifest."""
    no_cache = {"mentions", "raw_triples", "linked"}

    def stage(name: str, build, lineage_extra=None, observe=()) -> DataFrame:
        if cat is None:
            df = build()
            return df if name in no_cache else df.cache()
        if cat.committed(name):
            resumed.append(name)
            return cat.read(spark, name)

        def _lineage(df: DataFrame) -> DataFrame | None:
            # url-keyed stages carry per-bucket lineage; global stages
            # (canonical map, entity/relation rollups) are audited by the
            # manifest row counts instead.  ``df`` is the committed
            # snapshot read back, so lineage audits the rows on disk and
            # never re-runs the stage plan.
            if "url" not in df.columns:
                return None
            return lineage_by_url(df, name, extra_aggs=lineage_extra)

        return cat.stage(spark, name, build, lineage_of=_lineage,
                         observe=observe)

    return stage


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str | None = None,
    graph: str = DEFAULT_GRAPH,
) -> KGTables:
    """``workdir`` set → every stage is an atomic parquet snapshot (the
    scale path: stage outputs are re-read from disk, lineage truncated).

    Checkpointed construction commits every stage at call time; over a
    finished build it resumes every stage and starts no Spark job.  The
    plan probe — the ranked alias table's row count and Σ id bytes,
    which pick every plan below — is observed on the ``alias_table``
    commit and read from its manifest.

    ``workdir=None`` → NOT fully lazy either: construction caches the
    ranked alias table and probes it with one aggregate job at call
    time, so a pipeline cannot be built before its input data exists.
    Everything else stays one lazy DAG that caches the SMALL stages only
    (docs_clean — the pandas-UDF product — the ranked alias table, and
    the aggregated graph tables).  The wide fan-out stages (mentions,
    raw_triples, linked: ~100 rows per doc) are deliberately NOT cached:
    they are cheap map-side derivations of cached docs_clean, and filling
    a columnar cache with 10^2×docs rows costs far more than the 1-2
    rescans that consume them (measured: 25-70 s fill vs 2 s scan at
    250k docs / 19M mentions)."""
    cat = SnapshotCatalog(workdir) if workdir else None
    return build_graph(spark, cat, lambda: extract_docs(pages), graph)


def build_graph(spark: SparkSession, cat: SnapshotCatalog | None,
                docs, graph: str = DEFAULT_GRAPH) -> KGTables:
    """Every stage, docs_clean through provenance: the one stage graph
    behind ``run_pipeline`` and the streaming ``finalize``.  ``docs()``
    builds docs_clean (called only when that stage does not resume);
    ``cat`` as in ``_stager``.  Stage builders are looked up as this
    module's globals at call time, so wrapping ``pipeline.<builder>``
    observes the path a build took."""
    resumed: list[str] = []
    stage = _stager(spark, cat, resumed)
    docs_clean = stage("docs_clean", docs)
    mentions = stage("mentions", lambda: extract_mentions(docs_clean))
    raw_triples = stage("raw_triples", lambda: extract_raw_triples(docs_clean))

    # alias table: the best candidate per (surface, kind), vocabulary-sized
    # — committed as its own snapshot / cached, since linking, entities
    # and canonicalization all read it.  Discovered from per-doc token
    # vocabularies (array_distinct before the explode), NOT from the
    # 10^2×-wider per-occurrence mention rows; identical result
    # (linking.discovered_alias_from_docs docstring + test).
    #
    # Its size picks every plan below, so it is probed ONCE: checkpointed,
    # the row count and Σ id bytes are observed on the commit's write and
    # read from the manifest — just built or resumed alike, so a partial
    # resume picks the same plans and a resume-load runs no probe job.
    # Past the broadcast ceiling the vocabulary tables are no longer
    # broadcast anywhere — linking takes the salted join, and the
    # entity/relation builds and linked_canonical drop their broadcast
    # hints, or the driver OOMs.
    id_bytes = F.coalesce(F.sum(F.length("entity_id")), F.lit(0)) \
        .alias("alias_id_bytes")
    ranked = stage(
        "alias_table",
        lambda: rank_candidates(discovered_alias_from_docs(docs_clean)),
        observe=(id_bytes,))
    if cat is None:
        probe = ranked.agg(F.count(F.lit(1)).alias("n"), id_bytes).collect()[0]
        n_alias, alias_id_bytes = probe["n"], probe["alias_id_bytes"]
    else:
        probe = cat.manifest("alias_table")
        n_alias = probe["rows"]
        alias_id_bytes = probe["observed"]["alias_id_bytes"]
    broadcast_vocab = n_alias <= BROADCAST_MAX_ALIAS_ROWS
    use_docagg = (n_alias <= RELATIONS_DOCAGG_MAX_VOCAB
                  and 2 * alias_id_bytes <= RELATIONS_DOCAGG_MAX_BYTES)

    linked = stage(
        "linked",
        lambda: link_mentions(mentions, ranked, salted=not broadcast_vocab),
        lineage_extra={
            "score_histogram": F.to_json(
                F.map_from_entries(F.array(F.struct(
                    F.lit("ge_half"),
                    F.sum(F.when(F.col("link_score") >= 0.5, 1).otherwise(0)),
                ))),
            )
        },
    )

    def _canonical():
        # entity universe from the (vocabulary-sized) ranked alias table,
        # NOT from a distinct over per-mention rows.  n_alias is already
        # known (the probe above), so a tiny vocabulary takes the driver
        # fast path — one collect over the ranked table instead of the
        # DataFrame CC path's ~6 fixed-latency mini-jobs, which otherwise
        # sit in the scaling run's serial floor.
        ents = ranked.select("entity_id").distinct()
        if use_docagg:
            ids = [r["entity_id"] for r in ents.collect()]
            return canonical_mapping_local(spark, ids, SAME_AS_PAIRS)
        return canonical_mapping(ents, same_as_edges(spark))

    canonical = stage("canonical_map", _canonical)

    # vocabulary under the dict ceiling (rows AND bytes) → the canonical
    # map lives on the driver and unlocks the doc-aggregated fast paths
    # for entities, relations and provenance below.
    @functools.cache
    def docagg() -> DataFrame:
        # the one kernel pass all three fast paths read, built lazily: the
        # canonical dict is collected, and the pass runs inside the job of
        # the first stage that needs it (entities, unless that stage
        # resumed); later stages read its cached / local-checkpointed
        # blocks.  A build whose three stages all resume collects nothing.
        cmap = {r["entity_id"]: r["canonical_id"] for r in canonical.collect()}
        out = extract_docagg(docs_clean, cmap)
        return (out.cache() if cat is None
                else out.localCheckpoint(eager=False))

    def _linked_canonical() -> DataFrame:
        canon = F.broadcast(canonical) if broadcast_vocab else canonical
        return linked.join(canon, "entity_id").select(
            "url", "pos", "surface", "kind", "entity_id", "link_score",
            "canonical_id",
        )

    linked_canonical = _linked_canonical()

    # entities: under the vocab ceiling the whole per-surface level folds
    # into the doc-aggregate pass over docs_clean (per-batch partial
    # aggregates in canonical space — extract_docagg docstring); open
    # vocabulary → aggregate the mention stream by (surface, kind) before
    # any join (decomposable aggs — build_entities_preagg docstring).
    # build_entities(linked_canonical) is the reference shape and remains
    # the oracle in tests
    def _entities() -> DataFrame:
        if use_docagg:
            return build_entities_docagg(docagg())
        return build_entities_preagg(
            mentions, ranked, canonical, broadcast_alias=broadcast_vocab)

    entities = stage("entities", _entities)

    def _relations() -> DataFrame:
        # Scale path: when the canonical vocabulary fits a driver dict,
        # the (pair, url) half of the relations aggregate is computed
        # per-document inside the doc-aggregate pass (every pair of a doc
        # lives in ONE docs_clean row, so the url level never needs a
        # shuffle) and the global agg map-side-combines down to the
        # canonical pair space.  The shuffle path measured 2.3+2.7 GB
        # shuffled / ~1200 CPU-s at 2M pages; this path shuffles KBs.
        # Open vocabulary past the dict ceiling → the original
        # pre-aggregated shuffle path.
        if use_docagg:
            return build_relations_docagg(docagg())
        return build_relations(raw_triples, canonical,
                               broadcast_canonical=broadcast_vocab)

    relations = stage("relations", _relations)

    frames_slots = build_frames_slots(relations)      # two lazy plans
    frames = stage("frames", lambda: frames_slots[0])
    slots = stage("slots", lambda: frames_slots[1])

    triples = stage("triples", lambda: build_triples(entities, frames, graph))

    def _provenance() -> DataFrame:
        # doc-local fast path under the vocab ceiling (all three counts
        # of a url live in one docs_clean row — extract_docagg docstring);
        # open vocabulary → the keyed-aggregate shuffle path
        if use_docagg:
            return extract_provenance_docagg(docagg())
        return build_provenance(linked_canonical, raw_triples)

    provenance = stage("provenance", _provenance)

    return KGTables(
        docs_clean=docs_clean, mentions=mentions, raw_triples=raw_triples,
        linked=linked_canonical, canonical=canonical, entities=entities,
        relations=relations, frames=frames, slots=slots, triples=triples,
        provenance=provenance, stages_resumed=resumed,
    )
