"""Incremental KG construction via Structured Streaming.

The reference's "real-time updates" are synchronous in-process mutations
(/root/reference/README.md:36, kgraph.py:56-97 add_object); the batch north
rule has no streaming stage (SURVEY.md §2.9).  This module is the optional
streaming analog sketched there: page batches arrive as files, each
micro-batch runs the *map-side* pipeline stages (extract → mentions →
raw triples) through ``foreachBatch`` appends, and a finalize step runs the
*global* stages (alias discovery, linking, canonicalization,
materialization) over everything accumulated — the same stage function as
the batch pipeline (``pipeline.build_graph``), so streamed output == batch
output (asserted in tests/test_streaming.py).

Idempotency / exactly-once: Structured Streaming may replay a micro-batch
after a crash; appended stage rows are therefore deduplicated at finalize
on their natural keys (docs by url — last epoch wins, mentions by
(url,pos,kind), triples by (url,pos)), so replays cannot change the final
tables.  The streaming checkpoint directory carries source progress; the
finalize output commits through the same SnapshotCatalog as batch resume.

At scale: `maxFilesPerTrigger` bounds per-batch work; appends are
partitioned parquet (url-hash buckets) so finalize scans stay parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datagen import PAGE_SCHEMA
from ..io.snapshots import MANIFEST, SnapshotCatalog
from ..operators.cc import merge_components
from ..operators.extraction import extract_docs, extract_mentions, extract_raw_triples
from ..pipeline import KGTables, build_graph, same_as_edges


def _stream_dir(workdir: str, stage: str) -> str:
    return os.path.join(workdir, "stream", stage)


def ingest_stream(spark: SparkSession, input_path: str, workdir: str,
                  max_files_per_trigger: int | None = None) -> int:
    """Consume all currently-available page files (`availableNow` trigger),
    appending per-batch map-side stage outputs + per-batch lineage.  Returns
    the number of micro-batches processed.  Safe to call repeatedly as new
    files land — the checkpoint skips consumed files."""
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)

    n_batches = {"n": 0}

    def process(batch: DataFrame, epoch_id: int) -> None:
        docs = extract_docs(batch).withColumn("_epoch", F.lit(epoch_id)).cache()
        docs.write.mode("append").parquet(_stream_dir(workdir, "docs_clean"))
        extract_mentions(docs).withColumn("_epoch", F.lit(epoch_id)) \
            .write.mode("append").parquet(_stream_dir(workdir, "mentions"))
        extract_raw_triples(docs).withColumn("_epoch", F.lit(epoch_id)) \
            .write.mode("append").parquet(_stream_dir(workdir, "raw_triples"))
        # per-batch lineage row (url-range + count) — the streaming twin of
        # the batch per-bucket lineage
        docs.agg(
            F.min("url").alias("url_min"), F.max("url").alias("url_max"),
            F.count(F.lit(1)).alias("n_docs"),
        ).withColumn("epoch", F.lit(epoch_id)) \
            .write.mode("append").parquet(_stream_dir(workdir, "lineage"))
        docs.unpersist()
        n_batches["n"] += 1

    q = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(workdir, "stream", "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def _accumulated(spark: SparkSession, workdir: str):
    """Deduped accumulated stage tables (replay-safe natural-key dedup)."""
    docs = (
        spark.read.parquet(_stream_dir(workdir, "docs_clean"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("url").orderBy(F.desc("_epoch"))))
        .where(F.col("_rn") == 1).drop("_rn", "_epoch")
    )
    mentions = (
        spark.read.parquet(_stream_dir(workdir, "mentions"))
        .dropDuplicates(["url", "pos", "kind"]).drop("_epoch")
    )
    raw_triples = (
        spark.read.parquet(_stream_dir(workdir, "raw_triples"))
        .dropDuplicates(["url", "pos"]).drop("_epoch")
    )
    return docs, mentions, raw_triples


def _accum_token(spark: SparkSession, workdir: str) -> str:
    """Fingerprint of the accumulation state — (distinct epochs, max
    epoch) from the per-batch lineage, one metadata-scale read.  Snapshot
    catalogs are keyed by it, so a finalize over a GROWN accumulation
    never short-circuits on manifests committed for an older one (the
    stale-mix hazard), while a crash-resume over the SAME accumulation
    still resumes.  Replayed micro-batches re-append the same epoch id,
    so the token is replay-stable."""
    row = spark.read.parquet(_stream_dir(workdir, "lineage")).agg(
        F.count_distinct("epoch").alias("n"),
        F.max("epoch").alias("mx")).collect()[0]
    return f"e{int(row['n'])}_{int(row['mx'])}"


def finalize(spark: SparkSession, workdir: str) -> KGTables:
    """Run the global stages over everything streamed so far.  Replayed
    micro-batches are collapsed here by natural-key dedup, so the result is
    identical to the batch pipeline over the same pages.  The snapshot
    catalog is scoped to the current accumulation (``_accum_token``):
    ingest-more-then-finalize-again recomputes in a fresh catalog instead
    of returning the previous cycle's committed tables."""
    docs, mentions, raw_triples = _accumulated(spark, workdir)
    cat = SnapshotCatalog(os.path.join(
        workdir, f"final_{_accum_token(spark, workdir)}"))
    return build_graph(spark, cat, docs, mentions, raw_triples)


def _generations(workdir: str) -> tuple[list[int], int]:
    """→ (committed generation indices, next free index).  A generation
    counts as committed only when its ``canonical_map`` manifest exists —
    SnapshotCatalog eagerly creates the directory, so a run killed before
    the canonical stage commits must be neither read as a predecessor nor
    resumed (its earlier stages may reflect a smaller accumulation); the
    next call starts a fresh generation and deltas from the last COMMITTED
    one."""
    committed, seen = [], []
    if os.path.isdir(workdir):
        for name in os.listdir(workdir):
            if name.startswith("final_v") and name[len("final_v"):].isdigit():
                idx = int(name[len("final_v"):])
                seen.append(idx)
                manifest = os.path.join(workdir, name, "canonical_map",
                                        MANIFEST)
                if os.path.exists(manifest):
                    committed.append(idx)
    return sorted(committed), (max(seen) + 1 if seen else 0)


def finalize_incremental(spark: SparkSession, workdir: str) -> KGTables:
    """Generation-aware finalize: call it after each ingest pass; each call
    commits ``final_v<k>`` snapshots.

    The canonicalization stage is DELTA-CC (operators/cc.merge_components):
    generation k starts from generation k-1's committed ``canonical_map``
    and folds in only the same-as edges that touch entities NEW since k-1
    — an edge between two previously-known entities was already live and
    already folded, so the merged graph is O(new entities' edges), never a
    CC recompute over the full accumulated entity set.  Isolated new
    entities map to themselves.  Output is identical to ``finalize`` /
    the batch pipeline over everything accumulated (tests/test_streaming).

    The downstream rollups (entities/relations/frames/triples) are global
    aggregations and are recomputed over the accumulated inputs — they are
    single decomposable hash aggs; the expensive iterative stage is the one
    made incremental here.  ``stages_resumed`` carries a
    ``canonical_map:delta`` marker when the delta path ran (observability
    for tests)."""
    docs, mentions, raw_triples = _accumulated(spark, workdir)
    gens, gen = _generations(workdir)
    cat = SnapshotCatalog(os.path.join(workdir, f"final_v{gen}"))
    markers: list[str] = []

    def _delta_cc(ents: DataFrame) -> DataFrame:
        same = same_as_edges(spark)
        prev = SnapshotCatalog(os.path.join(workdir, f"final_v{gens[-1]}"))
        committed = prev.read(spark, "canonical_map").select(
            F.col("entity_id").alias("node"),
            F.col("canonical_id").alias("component"))
        new_ents = ents.join(
            committed.select(F.col("node").alias("entity_id")),
            "entity_id", "left_anti").localCheckpoint(eager=True)
        # live edges (both endpoints known) touching ≥1 new entity — the
        # only edges not already folded into the committed map
        eids = ents.withColumnRenamed("entity_id", "src")
        live = (
            same.join(eids, "src", "left_semi")
            .join(ents.withColumnRenamed("entity_id", "dst"),
                  "dst", "left_semi")
        )
        new_src = new_ents.withColumnRenamed("entity_id", "src")
        new_dst = new_ents.withColumnRenamed("entity_id", "dst")
        delta = live.join(new_src, "src", "left_semi").unionByName(
            live.join(new_dst, "dst", "left_semi")).distinct()
        merged = merge_components(committed, delta, "src", "dst")
        markers.append("canonical_map:delta")
        # isolated new entities (no same-as edge) → themselves
        return (
            ents.join(merged, ents["entity_id"] == merged["node"], "left")
            .select("entity_id",
                    F.coalesce("component", "entity_id").alias("canonical_id"))
        )

    # generation 0 has no committed map to start from: plain CC
    kg = build_graph(spark, cat, docs, mentions, raw_triples,
                     canonical_of=_delta_cc if gens else None)
    kg.stages_resumed += markers
    return kg
