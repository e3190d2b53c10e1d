"""Incremental KG construction via Structured Streaming.

The reference's "real-time updates" are synchronous in-process mutations
(/root/reference/README.md:36, kgraph.py:56-97 add_object); the batch north
rule has no streaming stage (SURVEY.md §2.9).  This module is the optional
streaming analog sketched there: page batches arrive as files, each
micro-batch runs HTML decode (``extract_docs``) through ``foreachBatch``
appends, and ``finalize`` runs every later stage (mentions, raw triples,
alias discovery, linking, canonicalization, materialization) over the
accumulated docs — the same stage graph as the batch pipeline
(``pipeline.build_graph``), so streamed output == batch output (asserted
in tests/test_streaming.py).

Idempotency / exactly-once: Structured Streaming may replay a micro-batch
after a crash, and a url may be re-crawled in a later batch; appended docs
are therefore deduplicated at finalize by url, newest epoch wins, so
replays cannot change the final tables and a re-crawled url contributes
only its newest text.  Mentions and raw triples are derived from those
deduped docs, never appended per batch.  The streaming checkpoint
directory carries source progress; the finalize output commits through
the same SnapshotCatalog as batch resume.

At scale: `maxFilesPerTrigger` bounds per-batch work; appends are
partitioned parquet (url-hash buckets) so finalize scans stay parallel.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..datagen import PAGE_SCHEMA
from ..io.snapshots import SnapshotCatalog
from ..operators.extraction import extract_docs
from ..pipeline import KGTables, build_graph


def _stream_dir(workdir: str, stage: str) -> str:
    return os.path.join(workdir, "stream", stage)


def ingest_stream(spark: SparkSession, input_path: str, workdir: str,
                  max_files_per_trigger: int | None = None) -> int:
    """Consume all currently-available page files (`availableNow` trigger),
    appending per-batch docs_clean + per-batch lineage.  Returns the
    number of micro-batches processed.  Safe to call repeatedly as new
    files land — the checkpoint skips consumed files."""
    reader = spark.readStream.schema(PAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)

    n_batches = {"n": 0}
    os.makedirs(_stream_dir(workdir, "_epochs"), exist_ok=True)

    def process(batch: DataFrame, epoch_id: int) -> None:
        docs = extract_docs(batch).withColumn("_epoch", F.lit(epoch_id)).cache()
        docs.write.mode("append").parquet(_stream_dir(workdir, "docs_clean"))
        # per-batch lineage row (url-range + count) — the streaming twin of
        # the batch per-bucket lineage
        docs.agg(
            F.min("url").alias("url_min"), F.max("url").alias("url_max"),
            F.count(F.lit(1)).alias("n_docs"),
        ).withColumn("epoch", F.lit(epoch_id)) \
            .write.mode("append").parquet(_stream_dir(workdir, "lineage"))
        docs.unpersist()
        # the epoch's marker, written after both appends: ``_accum_token``
        # lists these instead of reading the lineage (a replay rewrites it)
        open(os.path.join(_stream_dir(workdir, "_epochs"), str(epoch_id)),
             "w").close()
        n_batches["n"] += 1

    q = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(workdir, "stream", "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def _accumulated_docs(spark: SparkSession, workdir: str) -> DataFrame:
    """The accumulated docs_clean, one row per url from its newest epoch
    (replay-safe, and a re-crawl replaces the url's older text)."""
    return (
        spark.read.parquet(_stream_dir(workdir, "docs_clean"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("url").orderBy(F.desc("_epoch"))))
        .where(F.col("_rn") == 1).drop("_rn", "_epoch")
    )


def _accum_token(workdir: str) -> str:
    """Fingerprint of the accumulation state — (epochs, max epoch) from
    the per-epoch marker files, a directory listing that starts no Spark
    job.  Snapshot catalogs are keyed by it, so a finalize over a GROWN
    accumulation never short-circuits on manifests committed for an
    older one (the stale-mix hazard), while a crash-resume over the SAME
    accumulation still resumes.  A replayed micro-batch rewrites its
    epoch's marker, so the token is replay-stable."""
    epochs = [int(e) for e in os.listdir(_stream_dir(workdir, "_epochs"))]
    return f"e{len(epochs)}_{max(epochs)}"


def finalize(spark: SparkSession, workdir: str) -> KGTables:
    """Run every stage after decode over everything streamed so far; call
    it after each ingest pass.  Replayed micro-batches and re-crawls are
    collapsed by the url dedup, so the result is identical to the batch
    pipeline over the newest page of every url.  The snapshot catalog is
    scoped to the current accumulation (``_accum_token``): a killed
    finalize resumes on the next call, and ingest-more-then-finalize-again
    builds afresh instead of returning the previous cycle's tables.

    Once every stage of the current accumulation is committed, the
    catalogs of older accumulations are deleted: no later call can read
    them, so tables returned by an earlier finalize over a smaller
    accumulation stop being readable."""
    current = f"final_{_accum_token(workdir)}"
    cat = SnapshotCatalog(os.path.join(workdir, current))
    kg = build_graph(spark, cat, lambda: _accumulated_docs(spark, workdir))
    for name in os.listdir(workdir):
        if name.startswith("final_") and name != current:
            shutil.rmtree(os.path.join(workdir, name))
    return kg
