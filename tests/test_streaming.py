"""Structured Streaming incremental construction: micro-batched ingest +
finalize must reproduce the batch pipeline exactly, survive replays
(idempotent dedup), and record per-batch lineage."""

import pytest
from pyspark.sql import functions as F

from kgraphmemory_spark import datagen
from kgraphmemory_spark.pipeline import run_pipeline
from kgraphmemory_spark.streaming.incremental import (
    _stream_dir,
    finalize,
    ingest_stream,
)

GRAPH_TABLES = ("canonical", "entities", "relations", "frames", "slots",
                "triples", "provenance")


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream")
    input_dir = str(tmp / "pages_in")
    workdir = str(tmp / "work")

    rows = datagen.generate_pages_rows(60, seed=7)
    # three separate files → maxFilesPerTrigger=1 forces 3 micro-batches
    for i in range(3):
        chunk = rows[i * 20:(i + 1) * 20]
        spark.createDataFrame(chunk, schema=datagen.PAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(input_dir)

    n_batches = ingest_stream(spark, input_dir, workdir,
                              max_files_per_trigger=1)
    kg_stream = finalize(spark, workdir)
    pages = spark.createDataFrame(rows, schema=datagen.PAGE_SCHEMA)
    kg_batch = run_pipeline(spark, pages)
    return n_batches, workdir, kg_stream, kg_batch


def test_multiple_microbatches(streamed):
    n_batches, workdir, _, _ = streamed
    assert n_batches >= 3


def test_stream_equals_batch(streamed):
    _, _, kg_stream, kg_batch = streamed
    for name in GRAPH_TABLES:
        s = {tuple(r) for r in getattr(kg_stream, name).collect()}
        b = {tuple(r) for r in getattr(kg_batch, name).collect()}
        assert s == b, name


DOCAGG_PATH = ("canonical_mapping_local", "build_entities_docagg",
               "build_relations_docagg", "extract_provenance_docagg")
SHUFFLE_PATH = ("canonical_mapping", "build_entities_preagg",
                "build_relations", "build_provenance")


def test_finalize_under_the_ceiling_takes_the_docagg_path(
        spark, tmp_path, monkeypatch):
    """A streamed vocabulary under the doc-aggregate ceiling is finalized
    by the same builders as a batch run: the four doc-aggregate paths,
    none of the shuffle paths."""
    from kgraphmemory_spark import pipeline

    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    spark.createDataFrame(datagen.generate_pages_rows(20, seed=5),
                          schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)

    called: set[str] = set()

    def wrap(name, orig):
        def recorded(*args, **kwargs):
            called.add(name)
            return orig(*args, **kwargs)
        return recorded

    for name in DOCAGG_PATH + SHUFFLE_PATH:
        monkeypatch.setattr(pipeline, name,
                            wrap(name, getattr(pipeline, name)))
    finalize(spark, workdir)
    assert called == set(DOCAGG_PATH)


def test_replay_is_idempotent(spark, streamed):
    _, workdir, kg_stream, _ = streamed
    before = {tuple(r) for r in kg_stream.relations.collect()}
    # simulate a replayed micro-batch: re-append one epoch's rows verbatim
    docs_dir = _stream_dir(workdir, "docs_clean")
    dup = spark.read.parquet(docs_dir).where(F.col("_epoch") == 0)
    dup.write.mode("append").parquet(docs_dir)
    men_dir = _stream_dir(workdir, "mentions")
    spark.read.parquet(men_dir).where(F.col("_epoch") == 0) \
        .write.mode("append").parquet(men_dir)

    import glob
    import shutil
    for d in glob.glob(f"{workdir}/final_*"):  # drop finalize snapshots
        shutil.rmtree(d)                       # (token-keyed catalogs)
    again = finalize(spark, workdir)
    after = {tuple(r) for r in again.relations.collect()}
    assert after == before


def test_lineage_rows(spark, streamed):
    _, workdir, _, _ = streamed
    lin = spark.read.parquet(_stream_dir(workdir, "lineage"))
    rows = lin.orderBy("epoch").collect()
    assert len(rows) >= 3
    assert sum(r.n_docs for r in rows) == 60
    for r in rows:
        assert r.url_min <= r.url_max


def test_incremental_new_files(spark, streamed):
    """New files landing after the first pass are picked up by a second
    ingest (checkpoint skips consumed ones) and appear in finalize."""
    _, workdir, _, _ = streamed
    input_dir = workdir.replace("/work", "/pages_in")
    extra = datagen.generate_pages_rows(10, seed=99)
    spark.createDataFrame(extra, schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    n2 = ingest_stream(spark, input_dir, workdir, max_files_per_trigger=1)
    assert n2 >= 1
    docs = spark.read.parquet(_stream_dir(workdir, "docs_clean"))
    assert docs.select("url").distinct().count() == 70


def test_incremental_finalize_equals_batch_over_three_batches(
        spark, tmp_path):
    """finalize_incremental after EACH micro-batch: generation k's
    canonical map is generation k-1's merged via delta-CC (marker
    asserted), and the final tables equal the batch pipeline over all
    pages accumulated so far — at every generation."""
    from kgraphmemory_spark.streaming.incremental import finalize_incremental

    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    rows = datagen.generate_pages_rows(45, seed=11)

    seen = []
    for k in range(3):
        chunk = rows[k * 15:(k + 1) * 15]
        seen += chunk
        spark.createDataFrame(chunk, schema=datagen.PAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(input_dir)
        assert ingest_stream(spark, input_dir, workdir,
                             max_files_per_trigger=1) >= 1
        kg_inc = finalize_incremental(spark, workdir)
        if k == 0:
            assert kg_inc.stages_resumed == []
        else:
            assert "canonical_map:delta" in kg_inc.stages_resumed
        kg_batch = run_pipeline(
            spark, spark.createDataFrame(seen, schema=datagen.PAGE_SCHEMA))
        for name in GRAPH_TABLES:
            s = {tuple(r) for r in getattr(kg_inc, name).collect()}
            b = {tuple(r) for r in getattr(kg_batch, name).collect()}
            assert s == b, (k, name)


def test_finalize_recomputes_after_more_batches(spark, tmp_path):
    """finalize → ingest more → finalize again must reflect the grown
    accumulation (the snapshot catalog is keyed by the accumulation
    fingerprint, so the second call cannot short-circuit on the first
    call's committed manifests)."""
    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    rows = datagen.generate_pages_rows(30, seed=21)
    spark.createDataFrame(rows[:15], schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)
    kg1 = finalize(spark, workdir)
    n1 = kg1.entities.count()
    spark.createDataFrame(rows[15:], schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)
    kg2 = finalize(spark, workdir)
    batch = run_pipeline(
        spark, spark.createDataFrame(rows, schema=datagen.PAGE_SCHEMA))
    s = {tuple(r) for r in kg2.entities.collect()}
    b = {tuple(r) for r in batch.entities.collect()}
    assert s == b and len(s) >= n1


def test_incremental_skips_crashed_generation(spark, tmp_path):
    """A generation directory whose canonical_map never committed (run
    died mid-finalize) must be neither resumed nor used as the delta
    predecessor — the next call starts a fresh generation and still
    equals batch."""
    import os

    from kgraphmemory_spark.streaming.incremental import finalize_incremental

    input_dir = str(tmp_path / "pages_in")
    workdir = str(tmp_path / "work")
    rows = datagen.generate_pages_rows(30, seed=31)
    spark.createDataFrame(rows[:15], schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)
    finalize_incremental(spark, workdir)                  # committed gen 0
    # simulate a crash mid-generation: the dir exists, nothing committed
    os.makedirs(os.path.join(workdir, "final_v1", "alias_table"))
    spark.createDataFrame(rows[15:], schema=datagen.PAGE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(input_dir)
    ingest_stream(spark, input_dir, workdir)
    kg = finalize_incremental(spark, workdir)             # → fresh gen 2
    assert "canonical_map:delta" in kg.stages_resumed     # delta from v0
    assert os.path.isdir(os.path.join(workdir, "final_v2"))
    batch = run_pipeline(
        spark, spark.createDataFrame(rows, schema=datagen.PAGE_SCHEMA))
    s = {tuple(r) for r in kg.relations.collect()}
    b = {tuple(r) for r in batch.relations.collect()}
    assert s == b
